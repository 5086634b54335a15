"""Batch entries: time from input to complete result for batch jobs.

The tail of every ``stream_ingest`` pass runs two suite entries over a
seeded copy of the fixture tables (``datagen.write_batch_dir``), each as
its own op:

- ``dedup_keep_best``: ``operators.dedup`` MinHash-LSH + label
  propagation + keep policy, a driver-synchronous job storm;
- ``dialect_recursive_cte``: the ``plans.sugar`` WITH RECURSIVE
  fixpoint, another job storm (one ``isEmpty`` probe per step).

An op is split into *build* (the entry function returning its
DataFrame, which runs the eager jobs) and *exec* (``toPandas()``). The
ops are few and unlike each other, so they count toward the pass wall
and ``ops_ok_ratio`` but give no latency samples.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

from harness import Op

ENTRIES = ("dedup_keep_best", "dialect_recursive_cte")


class BatchEntries:
    def __init__(self, b):
        from boostdb_spark import suite

        self.b = b
        self.fns = suite.spark_queries()
        self.oracle_sql = suite.oracle_queries()
        self.sf_dir = os.path.join(b.root, "sf")

    def setup_data(self) -> None:
        """Generate the input tables in a child process."""
        subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "datagen.py"),
             "batch", "--seed", str(self.b.seed), "--out", self.sf_dir],
            check=True,
        )

    def pass_ops(self) -> list[Op]:
        return [Op(f"b{i}:{e}", e) for i, e in enumerate(ENTRIES)]

    def run_op(self, op: Op) -> None:
        b, tr = self.b, self.b.tracer
        op.groups = [f"{op.op_id}/build", f"{op.op_id}/exec"]
        b.ledger.set_group(op.groups[0])
        t0 = time.perf_counter()
        with tr.span("batch.build"):
            df = self.fns[op.cls](b.spark, self.sf_dir)
        t1 = time.perf_counter()
        b.ledger.set_group(op.groups[1])
        with tr.span("exec"):
            op.result = df.toPandas()
            tr.count("rows", len(op.result))
        op.spec = {"build_s": t1 - t0, "exec_s": time.perf_counter() - t1}

    def check(self, ops: list[Op]) -> None:
        """Each measured result against the entry's DuckDB oracle from
        the suite, with the suite's own comparison
        (``boostdb_spark.verify``)."""
        from boostdb_spark import verify

        con = verify.duckdb_con(self.sf_dir)
        want = {}
        try:
            for op in ops:
                if op.error:
                    continue
                if op.cls not in want:
                    want[op.cls] = con.sql(self.oracle_sql[op.cls]).df()
                op.problems = verify.compare(op.result, want[op.cls])
        finally:
            con.close()

    def traced_metrics(self, ops: list[Op]) -> dict[str, float]:
        out: dict[str, float] = {}
        for op in ops:
            if op.error:
                continue
            pre = f"batch.{op.cls}."
            out[pre + "build_s"] = op.spec["build_s"]
            out[pre + "exec_s"] = op.spec["exec_s"]
            t = self.b.ledger.totals(op.groups)
            out[pre + "jobs"] = t["jobs"]
            out[pre + "stages"] = t["stages"]
        return out
