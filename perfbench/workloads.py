"""The benchmark's workloads: their seeded inputs, warm-up, timed
operations and output checks.

Each operation runs in three phases, build -> plan -> execute, the same
way traced or not; a traced run only wraps each phase in a span.  Checks
run after the operation's timer stops.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import numpy as np

import datagen
from queue_system_simulator_spark.operators.kernel import SimParams, simulate_events
from queue_system_simulator_spark.pipeline import render_report, run_pipeline
from queue_system_simulator_spark.plans import QUERIES
from queue_system_simulator_spark import schema, shipping


def _load_fingerprint():
    """``frame_fingerprint`` of the repository's oracle gate, so the
    benchmark's check is the same one ``tools/check_oracle.py`` applies."""
    path = os.path.join(os.getcwd(), "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.frame_fingerprint


def _force_plan(df) -> None:
    df._jdf.queryExecution().executedPlan()


class DesPipeline:
    """The reference CLI path: request-log CSV -> ``pipeline.run_pipeline``
    -> ``render_report`` -> a noop write of the timeline."""

    name = "des_pipeline"
    #: op -> (rows, users, run_pipeline keyword arguments)
    OPS = {"des_single": (4000, 8, {"num_workers": 12})}

    def __init__(self, data_dir: str, seed: int):
        self.paths = {}
        for i, (op, (rows, users, _kw)) in enumerate(self.OPS.items()):
            self.paths[op] = os.path.join(data_dir, f"{op}.csv")
            datagen.write_requests_csv(self.paths[op], rows, users, seed * 10 + i)
        self.ops = list(self.OPS)
        self.rows = {op: spec[0] for op, spec in self.OPS.items()}
        self.kernel_rows = self.rows

    def warm_up(self, spark) -> None:
        for path in self.paths.values():
            spark.read.text(path).limit(1).collect()
        # start a pandas-UDF Python worker on every core
        n = spark.sparkContext.defaultParallelism
        spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").collect()

    def run_op(self, spark, op: str, tracer):
        with tracer.span("build"):
            res = run_pipeline(spark, self.paths[op], **self.OPS[op][2])
        with tracer.span("plan"):
            _force_plan(res.scalar_stats)
            _force_plan(res.api_counts)
        with tracer.span("execute"):
            lines = render_report(res)
            res.timeline.write.format("noop").mode("overwrite").save()
        return lines

    def check(self, op: str, lines: list[str]) -> list[str]:
        rep = dict(ln.split(": ", 1) for ln in lines if ": " in ln)
        n, processed, rejected = (int(rep.get(k, -1)) for k in ("total requests", "processed", "rejected"))
        api_total = sum(int(v) for k, v in rep.items() if k.startswith("api_"))
        errs = []
        if not processed + rejected == n == self.rows[op]:
            errs.append(f"processed {processed} + rejected {rejected} != input rows {self.rows[op]}")
        if api_total != processed:
            errs.append(f"api usage counts sum to {api_total}, processed is {processed}")
        if op == "des_single":
            errs += self._check_sequential(rep)
        return errs

    def _check_sequential(self, rep: dict[str, str]) -> list[str]:
        """``des_single``'s report against ``simulate_events`` run in
        process on the same rows, in the pipeline's arrival order."""
        if not hasattr(self, "_expected"):
            self._expected = self._sequential_report()
        errs = []
        for key, want in self._expected.items():
            got = rep.get(key)
            if key == "average queuing time":
                ok = got is not None and abs(float(got) - want) <= 1e-6 * max(1.0, abs(want))
            else:
                ok = got == str(want)
            if not ok:
                errs.append(f"des_single {key}: report {got}, sequential {want}")
        return errs

    def _sequential_report(self) -> dict:
        import csv
        import datetime as dt

        epoch = dt.datetime.fromisoformat(schema.REFERENCE_EPOCH).timestamp()
        with open(self.paths["des_single"]) as f:
            recs = list(csv.DictReader(f))
        rows = []
        for pos, r in enumerate(recs):
            us = int(np.datetime64(r["request_time"].rstrip("Z"), "us").astype("int64"))
            rows.append({"user_id": r["user_id"], "sim_arrival_time": us / 1e6 - epoch,
                         "processing_time": float(r["processing_time"]), "pos": pos})
        rows.sort(key=lambda r: (r["sim_arrival_time"], r["user_id"], r["pos"]))
        for seq, r in enumerate(rows, 1):
            r["seq"] = seq
        params = SimParams(num_workers=self.OPS["des_single"][2]["num_workers"])
        out = simulate_events(rows, params, rng_seed=f"{params.seed}|0")
        done = [r for r in out if r["finish_processing_time_by_worker"] != -1.0]
        valid = [r["start_processing_time_by_worker"] - r["arrival_time_in_queue"] for r in done
                 if 0 <= r["arrival_time_in_queue"] <= r["start_processing_time_by_worker"]]
        exp = {
            "processed": len(done),
            "rejected": len(out) - len(done),
            "average queuing time": sum(valid) / len(valid),
            "priority queue enqueued": sum(r["processing_time"] < 20.0 for r in done),
            "normal queue enqueued": sum(not r["processing_time"] < 20.0 for r in done),
        }
        for api in range(1, params.num_apis + 1):
            exp[f"api_{api}"] = sum(r["used_api_id"] == api for r in done)
        return exp


class RegistryMix:
    """Registered queries over seeded tables, one per layer under test:
    a relational scan, a round trip through the partitioned parquet sink,
    and a streaming foreachBatch merge over a build-once split source."""

    name = "registry_mix"
    #: op -> the table whose rows it reads
    OPS = {
        "tpch_q1": "lineitem",
        "datalake_roundtrip": "events",
        "streaming_foreachbatch_merge": "events",
    }
    SIZES = {"events": 1000, "lineitem": 6000}

    def __init__(self, data_dir: str, seed: int):
        self.sf_dir = os.path.join(data_dir, "sf")
        datagen.write_tables(self.sf_dir, self.SIZES, seed)
        self.ops = list(self.OPS)
        self.rows = {op: self.SIZES[t] for op, t in self.OPS.items()}
        self.fingerprint = _load_fingerprint()
        con = duckdb.connect()
        for t in self.SIZES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        self.expected = {}
        for op in self.ops:
            rel = con.sql(QUERIES[op].oracle)
            self.expected[op] = self.fingerprint(rel.columns, rel.fetchall())
        con.close()

    #: no operation runs the DES kernel
    kernel_rows: dict[str, int] = {}

    def warm_up(self, spark) -> None:
        # no operation here runs a Python UDF, so no worker pool to start
        shipping.ensure_shipped(spark)
        for t in self.SIZES:
            schema.load_table(spark, self.sf_dir, t)

    def run_op(self, spark, op: str, tracer):
        with tracer.span("build"):
            df = QUERIES[op].build(spark, self.sf_dir)
        with tracer.span("plan"):
            _force_plan(df)
        with tracer.span("execute"):
            rows = df.collect()
        return df.columns, [tuple(r) for r in rows]

    def check(self, op: str, result) -> list[str]:
        got = self.fingerprint(*result)
        if got != self.expected[op]:
            return [f"{op}: spark {got} != oracle {self.expected[op]}"]
        return []


WORKLOADS = {w.name: w for w in (DesPipeline, RegistryMix)}
