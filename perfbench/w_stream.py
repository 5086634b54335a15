"""stream_ingest: the series-family layer used for writes, then the
batch jobs.

A pass replays a seeded landing directory through availableNow
micro-batches into three drains: ``stream_write`` (ingest into a fresh
family), ``continuous_rollup`` (4-hour rollup per ``dc``) and
``streaming_ewma`` (per-series EWMA). One dialect query reads the fresh
family back and ``SeriesFamily.compact`` rewrites it. Then the batch
entries of ``w_batch`` run. Loads ``streaming``,
``sources.seriesfamily`` writes, the state store, ``operators.dedup``
and the ``plans.sugar`` fixpoint; bypasses the short-query path.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen
from harness import Op, compare_rows, conf_set, median
from w_batch import ENTRIES, BatchEntries

DRAINS = ("ingest", "rollup", "ewma")
READBACK_SERIES = datagen.series_names(datagen.LANDING_SERIES)[0]
ALPHA = 0.25
#: Rollup window hours: a 12-hour micro-batch touches three windows per dc.
ROLLUP_HOURS = 4
#: Session conf for the drains, restored after each one. Two state
#: partitions: the landing dir is a few MB, and every micro-batch
#: commits every state partition.
DRAIN_CONF = {
    "spark.sql.shuffle.partitions": "2",
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def _family_rows(path: str) -> int:
    """Rows in the parquet files under a family root (the file sink's
    ``_spark_metadata`` log is skipped), from the footers."""
    return sum(f.metadata.num_rows for f in pq.ParquetDataset(path).fragments)


class StreamIngest:
    #: Typical wall of one pass on a 4-core host; ``--seconds`` divided
    #: by it gives the number of measured passes.
    nominal_pass_s = 18.0

    def __init__(self, b):
        self.b = b
        self.batch = BatchEntries(b)
        self.passes = 0
        self.layer = {}
        self.landing = os.path.join(b.root, "landing")
        self.rows = datagen.LANDING_FILES * datagen.LANDING_ROWS_PER_FILE
        self.schema = None
        #: Time of the current pass spent counting rows for the checks.
        self.untimed_s = 0.0

    def close(self) -> None:
        for q in self.b.spark.streams.active:
            q.stop()

    def setup_data(self) -> None:
        """Write the seeded landing dir and the batch tables in child
        processes."""
        self.batch.setup_data()
        subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "datagen.py"),
             "landing", "--seed", str(self.b.seed), "--out", self.landing],
            check=True,
        )
        # File sources replay oldest first: make modification order
        # event-time order.
        for i, f in enumerate(sorted(os.listdir(self.landing))):
            os.utime(os.path.join(self.landing, f), (1_700_000_000 + i, 1_700_000_000 + i))
        self.schema = self.b.spark.read.parquet(self.landing).schema

    def _expected(self) -> dict:
        """Reference results computed from the landing files alone."""
        import pandas as pd

        t = pq.read_table(self.landing)
        df = pd.DataFrame(
            {c: t.column(c).to_numpy() for c in ("series", "value", "dc", "host")}
        )
        df["ts"] = t.column("ts").cast(pa.int64()).to_numpy()
        df = df.sort_values(["ts", "host"], kind="mergesort")
        df["bucket"] = df["ts"] - df["ts"] % (ROLLUP_HOURS * datagen.HOUR_US)
        g = df.groupby(["bucket", "dc"])["value"].agg(["count", "max"])
        rollup = [(int(k[0]), k[1], int(r["count"]), float(r["max"])) for k, r in g.iterrows()]
        ewma = []
        for s, vals in df.groupby("series", sort=True)["value"]:
            vals = vals.tolist()
            ew = vals[0]
            for v in vals[1:]:
                ew = ALPHA * v + (1.0 - ALPHA) * ew
            ewma.append((s, ew, len(vals)))
        v0 = df.loc[df["series"] == READBACK_SERIES, "value"]
        return {"rollup": rollup, "ewma": ewma, "readback": [(len(v0), float(v0.max()))]}

    def pass_ops(self) -> list[Op]:
        # The read-back runs before compaction: once compact() rewrites a
        # family that stream_write created, reading the family root fails
        # (the file sink's _spark_metadata log still lists the replaced
        # files), so the compacted files are checked directly.
        return [Op(f"{i}:{d}", d) for i, d in enumerate(DRAINS)] + [
            Op("3:readback", "readback"), Op("4:compact", "compact")
        ] + self.batch.pass_ops()

    # ---------------------------------------------------------------- pass
    def _source(self):
        return (
            self.b.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.landing)
        )

    def _drain(self, d: str):
        """Start drain ``d``; returns the query and where its output goes
        (a path, or the memory table's name)."""
        from boostdb_spark.streaming import continuous_rollup, stream_write, streaming_ewma

        ck = os.path.join(self.dir, f"ckpt-{d}")
        if d == "ingest":
            return stream_write(self.fam, self._source(), ck), self.fam.path
        if d == "rollup":
            out = os.path.join(self.dir, "rollup")
            q = continuous_rollup(
                self._source(), out, ck, f"{ROLLUP_HOURS} hours", ["dc"],
                [F.count(F.lit(1)).alias("n"), F.max("value").alias("peak")],
                watermark="1 hour",
            )
            return q, out
        out = f"ewma_{self.passes}"
        q = (
            streaming_ewma(self._source(), ALPHA, key_cols=("series",), order_extra=("host",))
            .writeStream.format("memory").queryName(out)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        return q, out

    def run_pass(self, ops: list[Op]) -> None:
        from boostdb_spark.plans import sugar
        from boostdb_spark.sources.seriesfamily import SeriesFamily

        b, tr = self.b, self.b.tracer
        self.dir = os.path.join(b.root, f"stream-pass-{self.passes}")
        self.passes += 1
        self.fam = SeriesFamily(b.spark, "ingest", f"events{self.passes}", self.dir)
        self.untimed_s = 0.0
        batch_ops: list[Op] = []
        for op in ops:
            t0 = time.perf_counter()
            untimed_before = self.untimed_s
            with tr.span("op", op.op_id):
                try:
                    if op.cls in DRAINS:
                        with tr.span("stream.drain"), conf_set(b.spark, DRAIN_CONF):
                            q, out = self._drain(op.cls)
                            q.awaitTermination()
                        op.spec = {"progress": q.recentProgress, "out": out}
                        op.groups = [str(q.runId)]
                        if op.cls == "ingest":
                            # rows the drain wrote, counted before the
                            # compaction rewrites them; not part of the pass
                            t1 = time.perf_counter()
                            op.spec["rows"] = _family_rows(self.fam.path)
                            self.untimed_s += time.perf_counter() - t1
                        for i, p in enumerate(op.spec["progress"]):
                            batch_ops.append(
                                Op(f"{op.op_id}.b{i}", f"{op.cls}.batch",
                                   latency_ms=float(p["durationMs"]["triggerExecution"]))
                            )
                    elif op.cls in ENTRIES:
                        self.batch.run_op(op)
                    elif op.cls == "compact":
                        op.groups = [f"{op.op_id}/exec"]
                        b.ledger.set_group(op.groups[0])
                        with tr.span("seriesfamily.compact"):
                            self.fam.compact(files_per_day=1)
                        t1 = time.perf_counter()
                        op.spec = {"out": self.fam.path, "rows": _family_rows(self.fam.path)}
                        self.untimed_s += time.perf_counter() - t1
                    else:
                        op.groups = [f"{op.op_id}/plan", f"{op.op_id}/exec"]
                        b.ledger.set_group(op.groups[0])
                        self.fam.register()
                        binding = sugar.SeriesFamilyBinding(view=self.fam.view_name)
                        with tr.span("sugar.parse"):
                            q = sugar.parse(
                                f"SELECT count(*) AS n, max({READBACK_SERIES}) AS peak "
                                f"FROM ingest.events{self.passes}"
                            )
                        with tr.span("sugar.plan"):
                            df = sugar.plan(b.spark, q, binding)
                        b.ledger.set_group(op.groups[1])
                        with tr.span("catalyst.physical_plan"):
                            df._jdf.queryExecution().executedPlan()
                        with tr.span("exec"):
                            op.result = df.collect()
                            tr.count("rows", len(op.result))
                except Exception as e:  # a failed op is counted, not fatal
                    op.error = repr(e)
                finally:
                    b.ledger.clear_group()
            op.wall_ms = (time.perf_counter() - t0) * 1e3 - (
                self.untimed_s - untimed_before
            ) * 1e3
        ops.extend(batch_ops)

    # ---------------------------------------------------------------- checks
    def _actual(self, op: Op) -> list:
        spark, out = self.b.spark, op.spec["out"]
        if op.cls == "rollup":
            df = spark.read.parquet(out).select(
                (F.unix_micros("win_end") - ROLLUP_HOURS * datagen.HOUR_US).alias("bucket"),
                "dc", "n", "peak",
            )
        else:
            df = spark.table(out).groupBy("series").agg(
                F.max_by("ewma", "n").alias("ewma"), F.max("n").alias("n")
            )
        return df.collect()

    def check(self, ops: list[Op]) -> None:
        """Family rows equal landed rows (after the ingest drain and
        again after compaction), the rollup equals a tumbling aggregate
        of the landing files, the final EWMA per series equals the
        sequential fold, and the read-back query matches the landing
        files. Micro-batches share their drain's verdict."""
        self.batch.check([op for op in ops if op.cls in ENTRIES])
        self.expect = self._expected()
        for op in ops:
            if op.error or op.cls.endswith(".batch") or op.cls in ENTRIES:
                continue
            if op.cls == "readback":
                op.problems = compare_rows(op.result, self.expect["readback"])
            elif op.cls in ("ingest", "compact"):
                op.problems = compare_rows([(op.spec["rows"],)], [(self.rows,)])
            else:
                op.problems = compare_rows(self._actual(op), self.expect[op.cls])
        verdict = {op.op_id: op.ok for op in ops}
        for op in ops:
            if op.cls.endswith(".batch") and not verdict[op.op_id.rsplit(".b", 1)[0]]:
                op.problems = ["drain failed its check"]

    def traced_metrics(self, ops: list[Op], spans: list[dict]) -> dict[str, float]:
        out = self.batch.traced_metrics([op for op in ops if op.cls in ENTRIES])
        for op in ops:
            if op.cls in DRAINS and op.error is None:
                prog = op.spec["progress"]
                dur = [p["durationMs"] for p in prog]
                states = [so for p in prog for so in (p.get("stateOperators") or [])]
                pre = f"stream.{op.cls}."
                out[pre + "batches"] = len(prog)
                out[pre + "empty_batches"] = sum(p["numInputRows"] == 0 for p in prog)
                out[pre + "batch_ms_p50"] = median([d["triggerExecution"] for d in dur])
                out[pre + "wal_commit_ms"] = sum(d.get("walCommit", 0) for d in dur)
                out[pre + "state_commit_ms"] = sum(s.get("commitTimeMs", 0) for s in states)
                out[pre + "state_rows"] = prog[-1]["stateOperators"][0]["numRowsTotal"] if states else 0
                out[pre + "input_rows"] = sum(p["numInputRows"] for p in prog)
        walls = {op.cls: op.wall_ms for op in ops if op.cls in (*DRAINS, "compact")}
        fam = ops[0].spec.get("out")
        if fam:
            files = [
                os.path.join(d, f) for d, _, fs in os.walk(fam) for f in fs if f.endswith(".parquet")
            ]
            out["seriesfamily.files_after_compact"] = len(files)
            out["seriesfamily.stored_bytes_per_row"] = sum(map(os.path.getsize, files)) / self.rows
        out["seriesfamily.ingest_rows_per_s"] = self.rows / (walls.get("ingest", 0) / 1e3 or 1)
        out["seriesfamily.compact_s"] = walls.get("compact", 0) / 1e3
        return out
