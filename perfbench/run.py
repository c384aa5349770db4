"""Benchmark for pywrangler_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload fits --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, starts a fresh local session through ``session.get_spark``, runs a
cold pass over the workload's ops, checking each output, then warm passes
for about ``--seconds``, and prints one JSON object as its last line.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import measure  # noqa: E402

# explicit, and well inside the RAM of a 4-core, 15 GB machine
DRIVER_MEMORY = "1g"
CORES = os.cpu_count() or 4
# the seed later changes confirm a claim on (one not used while writing it)
CONFIRM_SEED = 20261017

EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)

# the streamed op of a workload with a "stream": the interval operator
# run incrementally, every micro-batch one op
STREAM = "stream_intervals"

# the --seconds (BENCHMARK.json's run_seconds) at which each workload runs
# its "warm_passes"; other values scale the pass count
RUN_SECONDS = 12

WORKLOADS = {
    "fits": {
        "sf": 0.1,
        "queries": ["classifier_quality_gate", "ann_topk_ivf"],
        "warm_passes": 1,
    },
    "intervals": {
        "sf": 0.02,
        "queries": ["interval_last_first"],
        "stream": {"files": 2, "rows_per_file": 3000, "users": 200},
        "warm_passes": 4,
    },
}

# bounded in BENCHMARK.json: CPU time of the whole process tree, which
# hypervisor steal on a shared host barely moves, and memory
END_TO_END = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "op_cpu_p50_s": "s",
    "peak_rss_mb": "MB",
}
# reported, not bounded: wall-clock times move with steal, and the tail
# of a dozen ops with the host's speed, by more than any bound the
# benchmark may set (see README)
UNBOUNDED = {
    "op_cpu_p90_s": "s",
    "cold_pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_min": "ops/min",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "queries.plan_s": "s",
    "queries.plan_jobs_cold": "count",
    "queries.plan_jobs_warm": "count",
    "queries.sink_s": "s",
    "queries.stages": "count",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    "sources.scan_task_s": "s",
    "operators.task_s": "s",
    "operators.cpu_s": "s",
    "operators.gc_s": "s",
    "operators.tasks": "count",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.fetch_wait_s": "s",
    "operators.spill_mb": "MB",
    "operators.pyworker_cpu_s": "s",
    "operators.pyworker_spawns": "count",
    "operators.cached_mb": "MB",
    "operators.leftover_rdds": "count",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.sink_mb": "MB",
    "streaming.sink_files": "count",
    "streaming.emitted_frac": "ratio",
    "self.queries_s": "s",
    "self.sources_s": "s",
    "self.operators_s": "s",
    "self.streaming_s": "s",
    "trace.overhead_frac": "ratio",
}

MB = 1024 * 1024


def _mean(values) -> float:
    values = list(values)
    return float(statistics.fmean(values)) if values else 0.0


class Run:
    """State of one benchmark run: session, op records, spans."""

    def __init__(self, args, run_dir: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.traced = bool(args.trace)
        self.spans = measure.Spans()
        self.ops: list[dict] = []
        self.passes: list[dict] = []
        self.problems: dict[str, str] = {}
        self.setup_wall = self.setup_cpu = 0.0
        self.phases: dict[str, float] = {}
        self.checks: dict[str, float] = {}
        self.check_cpu = 0.0
        self._phase_t = time.perf_counter()
        self.conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": _java_opts(run_dir),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            self.conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })

    # ---- set-up ------------------------------------------------------

    def setup(self) -> None:
        from pywrangler_spark.session import get_spark

        cpu0 = self.proc.cpu_s()
        t0 = time.time()
        self.spark = get_spark(
            f"perfbench-{self.args.workload}",
            master=f"local[{CORES}]",
            extra_conf=self.conf,
        )
        t1 = time.time()
        self.spark.range(1000).selectExpr("sum(id)").collect()
        t2 = time.time()
        self.setup_wall = t2 - t0
        self.setup_cpu = self.proc.cpu_s() - cpu0
        self.spans.add("session.start", t0, t1)
        self.spans.add("session.warmup", t1, t2)
        if self.traced:
            sc = self.spark.sparkContext
            self.rest = measure.Rest(sc.uiWebUrl, sc.applicationId)

    def _group(self, group: str, desc: str) -> None:
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, desc)

    # ---- ops ----------------------------------------------------------

    def batch_op(self, q: str, op_id: str, traced: bool,
                 checked: bool) -> list[dict]:
        """One registry query: the ``QUERIES[q]`` call, then a noop write."""
        from pywrangler_spark.queries import QUERIES

        rec = {"op": op_id, "name": q, "ok": True, "traced": traced}
        df = None
        cpu0 = self.proc.cpu_s()
        t0 = time.time()
        try:
            self._group(f"plan:{q}", f"op={op_id}")
            df = QUERIES[q](self.spark, self.data_dir)
            t1 = time.time()
            self._group(f"sink:{q}", f"op={op_id}")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        except Exception as exc:  # a failed op is counted, not fatal
            t1 = t2 = time.time()
            rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300])
        rec.update(t0=t0, t1=t1, t2=t2, wall=t2 - t0,
                   cpu=self.proc.cpu_s() - cpu0)
        if traced:
            self._group("bench", "between ops")
            rec["cached"] = self.rest.cached_bytes()
            self.spans.add("op", t0, t2, op=op_id, query=q)
            self.spans.add("queries.plan", t0, t1, parent="op", op=op_id)
            self.spans.add("queries.sink", t1, t2, parent="op", op=op_id)
        if checked and df is not None:
            self._check_batch(q, df)
        # a library user's program drops the result; caches tied to it
        # must go with it (no blanket clearCache between ops)
        del df
        gc.collect()
        rec["leftover"] = (
            self.spark.sparkContext._jsc.getPersistentRDDs().size()
        )
        return [rec]

    @contextlib.contextmanager
    def _checking(self, name: str):
        """Time and CPU of a check, kept out of the pass's figures."""
        self._group("bench", "check")
        t0, cpu0 = time.perf_counter(), self.proc.cpu_s()
        try:
            yield
        finally:
            self.checks[name] = time.perf_counter() - t0
            self.check_cpu += self.proc.cpu_s() - cpu0

    def _check_batch(self, q: str, df) -> None:
        from pywrangler_spark.queries import ORACLES

        with self._checking(q):
            try:
                got = df.toPandas()
            except Exception as exc:
                self.problems[q] = f"check run failed: {exc}"[:300]
                return
            if q not in ORACLES:
                self.problems[q] = "no oracle"
                return
            reason = self.oracle.check(got, ORACLES[q])
            if reason:
                self.problems[q] = reason

    def stream_op(self, name: str, op_id: str, traced: bool,
                  checked: bool) -> list[dict]:
        """One streaming query over every event file: each micro-batch,
        timed by Spark from trigger start to commit, is one op."""
        from pywrangler_spark.streaming import (
            idempotent_parquet_sink,
            stream_identify_intervals,
        )

        sink = os.path.join(self.run_dir, "sink", op_id)
        sdf = (
            self.spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.files_dir)
        )
        cpu0 = self.proc.cpu_s()
        t0 = time.time()
        query = (
            stream_identify_intervals(
                "event_type", "signup", "purchase", "user_id", "ts"
            )(sdf)
            .writeStream.foreachBatch(idempotent_parquet_sink(sink))
            .option("checkpointLocation",
                    os.path.join(self.run_dir, "ckpt", op_id))
            .trigger(availableNow=True)
            .start()
        )
        try:
            query.awaitTermination(150)
            error = query.exception()
        finally:
            query.stop()
        t1 = time.time()
        cpu = self.proc.cpu_s() - cpu0
        progress = query.recentProgress
        if error is not None or not progress:
            return [{"op": op_id, "name": name, "ok": False, "wall": t1 - t0,
                     "traced": traced, "error": str(error)[:300]}]
        recs = [{
            "op": f"{op_id}.{pr['batchId']}", "name": name, "ok": True,
            "traced": traced, "wall": pr["durationMs"]["triggerExecution"] / 1000,
            "run_id": str(pr["runId"]), "batch": pr["batchId"], "progress": pr,
            "cpu": cpu / len(progress),
        } for pr in progress]
        if traced:
            self.spans.add("streaming.query", t0, t1, op=op_id, query=name,
                           sink=self._dir_stats(sink))
            for rec in recs:
                start = measure.epoch(rec["progress"]["timestamp"])
                self.spans.add("streaming.batch", start, start + rec["wall"],
                               parent="streaming.query", op=rec["op"])
        if checked:
            self._check_stream(name, sink)
        return recs

    @staticmethod
    def _dir_stats(path: str) -> tuple[int, int, int]:
        """(parquet files, bytes, rows) under a sink directory."""
        import pyarrow.parquet as pq

        n = size = rows = 0
        for dirpath, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    full = os.path.join(dirpath, f)
                    n += 1
                    size += os.path.getsize(full)
                    rows += pq.ParquetFile(full).metadata.num_rows
        return n, size, rows

    def _check_stream(self, name: str, sink: str) -> None:
        """Streamed ids against the batch ``IntervalIdentifier`` over the
        whole event table."""
        import pyarrow.parquet as pq

        from pywrangler_spark import identify_intervals
        from pywrangler_spark.sources import read_parquet

        with self._checking(name):
            if not os.path.isdir(sink):
                self.problems[name] = "stream produced no output"
                return
            got = pq.read_table(sink).drop(["batch_id"]).to_pandas()
            want = read_parquet(self.spark, self.events_path).transform(
                identify_intervals(
                    marker_column="event_type", marker_start="signup",
                    marker_end="purchase", orderby_columns="ts",
                    groupby_columns="user_id",
                )
            ).select("user_id", "ts", "iids").toPandas()
            events = self.events_table.select(
                ["user_id", "ts", "event_type"]).to_pandas()
            reason = check.check_intervals(got, want, events)
            if reason:
                self.problems[name] = reason

    # ---- the run --------------------------------------------------------

    def one_pass(self, p: int, order: list[str], traced: bool) -> None:
        """Every op of the workload once, in ``order``; the cold pass
        (p == 0) also checks each output, outside the op timings."""
        pyw0 = self.proc.workers()[0] if traced else 0.0
        check0, check_cpu0 = sum(self.checks.values()), self.check_cpu
        t0, cpu0 = time.perf_counter(), self.proc.cpu_s()
        for i, name in enumerate(order):
            run_op = self.stream_op if name == STREAM else self.batch_op
            for rec in run_op(name, f"{p}.{i}", traced, checked=p == 0):
                rec["pass"] = p
                self.ops.append(rec)
        wall = time.perf_counter() - t0 - (sum(self.checks.values()) - check0)
        cpu = self.proc.cpu_s() - cpu0 - (self.check_cpu - check_cpu0)
        pyw = self.proc.workers()[0] - pyw0 if traced else 0.0
        self.passes.append({"pass": p, "wall": wall, "cpu": cpu,
                            "traced": traced, "pyw_cpu": pyw})

    def phase(self, name: str) -> None:
        now = time.perf_counter()
        self.phases[name] = round(now - self._phase_t, 3)
        self._phase_t = now

    def execute(self) -> None:
        args, wl = self.args, self.wl
        self.data_dir = os.path.join(self.run_dir, "data")
        gen.make_tables(self.data_dir, wl["sf"], args.seed)
        names = list(wl["queries"])
        if "stream" in wl:
            import pyarrow.parquet as pq

            names.append(STREAM)
            self.files_dir, self.events_table = gen.make_event_files(
                os.path.join(self.run_dir, "stream"), args.seed,
                **wl["stream"],
            )
            self.events_path = os.path.join(self.run_dir, "events.parquet")
            pq.write_table(self.events_table, self.events_path)
        self.oracle = check.Oracle(self.data_dir)
        rng = random.Random(args.seed)
        self.phase("generate")

        with measure.ProcTree() as self.proc:
            self.setup()
            self.phase("setup")
            rng.shuffle(names)
            self.one_pass(0, list(names), self.traced)
            self.phase("cold")
            # a whole number of warm passes, fixed for a given --seconds so
            # that every run measures the same ops however fast the host
            # is. At --seconds 12 a fits pass takes ~8 s and an intervals
            # pass ~4 s on a 4-core host; a fits run also pays a ~35 s
            # cold pass, so it gets one warm pass to keep all runs inside
            # the benchmark's time budget
            passes = max(1, round(args.seconds / RUN_SECONDS
                                  * wl["warm_passes"]))
            if self.traced:
                passes = max(2, passes)
            for p in range(1, passes + 1):
                rng.shuffle(names)
                # traced runs alternate traced and plain warm passes; the
                # ratio of their times is the tracing overhead
                self.one_pass(p, list(names), self.traced and p % 2 == 1)
            self.phase("warm")
            if self.traced:
                self.collect_rest()
            self.spark.stop()
        self.peak_rss = self.proc.peak_rss

    # ---- REST attribution (traced runs) ----------------------------------

    def collect_rest(self) -> None:
        jobs, stages = self.rest.jobs_and_stages()
        by_key: dict[tuple, list] = {}
        for job in jobs:
            desc = job.get("description") or ""
            group = job.get("jobGroup") or ""
            if group.startswith(("plan:", "sink:")) and desc.startswith("op="):
                key = (desc[3:], group.split(":", 1)[0])
            elif "batch = " in desc:  # micro-batch jobs: runId + batch id
                key = (group, int(desc.rsplit("batch = ", 1)[1].split()[0]))
            else:
                continue
            by_key.setdefault(key, []).append(job)
        for rec in self.ops:
            if not rec["traced"]:
                continue
            if "run_id" in rec:
                rec["jobs"] = {"batch": by_key.get((rec["run_id"], rec["batch"]), [])}
            else:
                rec["jobs"] = {ph: by_key.get((rec["op"], ph), [])
                               for ph in ("plan", "sink")}
            rec["stages"] = [
                stages[s] for js in rec["jobs"].values() for j in js
                for s in j["stageIds"] if s in stages
            ]

    # ---- metrics ----------------------------------------------------------

    def failed_ops(self) -> int:
        bad = set(self.problems)
        return sum(1 for r in self.ops if not r["ok"] or r["name"] in bad)

    def _warm(self, field: str) -> list[float]:
        return [r[field] for r in self.ops if r["pass"] > 0 and r["ok"]]

    def end_to_end(self) -> dict:
        cpus = self._warm("cpu")
        return {
            "setup_s": self.setup_cpu,
            "cold_pass_cpu_s": self.passes[0]["cpu"],
            "op_cpu_p50_s": float(np.percentile(cpus, 50)) if cpus else 0.0,
            "peak_rss_mb": self.peak_rss / MB,
        }

    def unbounded(self) -> dict:
        cpus, walls = self._warm("cpu"), self._warm("wall")
        warm_wall = sum(p["wall"] for p in self.passes if p["pass"] > 0)
        return {
            "op_cpu_p90_s": float(np.percentile(cpus, 90)) if cpus else 0.0,
            "cold_pass_s": self.passes[0]["wall"],
            "op_p50_s": float(np.percentile(walls, 50)) if walls else 0.0,
            "op_p90_s": float(np.percentile(walls, 90)) if walls else 0.0,
            "ops_per_min": len(walls) / warm_wall * 60 if warm_wall else 0.0,
        }

    def per_layer(self) -> dict:
        cold = [r for r in self.ops if r["pass"] == 0
                and r.get("jobs") is not None and "run_id" not in r]
        warm = [r for r in self.ops
                if r["pass"] > 0 and r["traced"] and r.get("jobs") is not None]
        m = dict.fromkeys(PER_LAYER, 0.0)
        start = next(s for s in self.spans.spans if s["name"] == "session.start")
        warmup = next(s for s in self.spans.spans if s["name"] == "session.warmup")
        m["session.start_s"] = start["end"] - start["start"]
        m["session.warmup_s"] = warmup["end"] - warmup["start"]

        def stage_sum(recs, field, pred=lambda st: True):
            return [sum(st[field] for st in r["stages"] if pred(st)) for r in recs]

        def is_input(st):
            return st["inputBytes"] > 0 or st["inputRecords"] > 0

        batch = [r for r in warm if "run_id" not in r]
        if batch:
            m["queries.plan_s"] = _mean(r["t1"] - r["t0"] for r in batch)
            m["queries.sink_s"] = _mean(r["t2"] - r["t1"] for r in batch)
            m["queries.plan_jobs_warm"] = _mean(len(r["jobs"]["plan"]) for r in batch)
            m["queries.stages"] = _mean(
                sum(len(j["stageIds"]) for j in r["jobs"]["sink"]) for r in batch)
            m["operators.cached_mb"] = _mean(r["cached"] for r in batch) / MB
        if cold:
            m["queries.plan_jobs_cold"] = _mean(len(r["jobs"]["plan"]) for r in cold)
        m["sources.input_mb"] = _mean(stage_sum(warm, "inputBytes", is_input)) / MB
        m["sources.input_rows"] = _mean(stage_sum(warm, "inputRecords", is_input))
        m["sources.scan_task_s"] = _mean(
            stage_sum(warm, "executorRunTime", is_input)) / 1000
        m["operators.task_s"] = _mean(stage_sum(warm, "executorRunTime")) / 1000
        m["operators.cpu_s"] = _mean(stage_sum(warm, "executorCpuTime")) / 1e9
        m["operators.gc_s"] = _mean(stage_sum(warm, "jvmGcTime")) / 1000
        m["operators.tasks"] = _mean(stage_sum(warm, "numCompleteTasks"))
        m["operators.shuffle_write_mb"] = _mean(stage_sum(warm, "shuffleWriteBytes")) / MB
        m["operators.shuffle_read_mb"] = _mean(stage_sum(warm, "shuffleReadBytes")) / MB
        m["operators.fetch_wait_s"] = _mean(stage_sum(warm, "shuffleFetchWaitTime")) / 1000
        m["operators.spill_mb"] = _mean(
            stage_sum(warm, "memoryBytesSpilled")) / MB + _mean(
            stage_sum(warm, "diskBytesSpilled")) / MB
        traced_warm = [p for p in self.passes if p["pass"] > 0 and p["traced"]]
        m["operators.pyworker_cpu_s"] = (
            sum(p["pyw_cpu"] for p in traced_warm) / len(warm) if warm else 0.0)
        m["operators.pyworker_spawns"] = self.proc.workers()[1]
        m["operators.leftover_rdds"] = max(r.get("leftover", 0) for r in self.ops)

        stream = [r for r in warm if "run_id" in r]
        if stream:
            dur = [r["progress"]["durationMs"] for r in stream]
            m["streaming.add_batch_s"] = _mean(d.get("addBatch", 0) for d in dur) / 1000
            m["streaming.planning_s"] = _mean(d.get("queryPlanning", 0) for d in dur) / 1000
            m["streaming.commit_s"] = _mean(
                d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur) / 1000
            ops_state = [r["progress"].get("stateOperators") or [] for r in stream]
            m["streaming.state_rows"] = _mean(
                sum(o["numRowsTotal"] for o in so) for so in ops_state)
            m["streaming.state_mb"] = max(
                sum(o["memoryUsedBytes"] for o in so) for so in ops_state) / MB
            queries = [s for s in self.spans.spans if s["name"] == "streaming.query"
                       and not s["op"].startswith("0.")]
            n_pass = len({s["op"].split(".")[0] for s in queries}) or 1
            m["streaming.sink_files"] = sum(s["sink"][0] for s in queries) / n_pass
            m["streaming.sink_mb"] = sum(s["sink"][1] for s in queries) / n_pass / MB
            rows_in = sum(r["progress"]["numInputRows"] for r in stream)
            emitted = sum(s["sink"][2] for s in queries)
            m["streaming.emitted_frac"] = emitted / rows_in if rows_in else 0.0

        # self time by layer, per warm op: time inside Spark jobs is the
        # executor layers' (split by the task time of scan stages vs the
        # rest); the remainder of the op is its driver-side layer
        selfs = dict.fromkeys(("queries", "sources", "operators", "streaming"), 0.0)
        for r in warm:
            jobs = [j for js in r["jobs"].values() for j in js if j["t1"]]
            if "run_id" in r:
                t0 = measure.epoch(r["progress"]["timestamp"])
                t1 = t0 + r["wall"]
            else:
                t0, t1 = r["t0"], r["t2"]
            busy = measure.covered([(j["t0"], j["t1"]) for j in jobs], t0, t1)
            run_all = sum(st["executorRunTime"] for st in r["stages"])
            run_in = sum(st["executorRunTime"] for st in r["stages"] if is_input(st))
            share_in = run_in / run_all if run_all else 0.0
            driver = "streaming" if "run_id" in r else "queries"
            selfs[driver] += max(0.0, r["wall"] - busy)
            selfs["sources"] += busy * share_in
            selfs["operators"] += busy * (1 - share_in)
        for k, v in selfs.items():
            m[f"self.{k}_s"] = v / len(warm) if warm else 0.0

        traced_p = [p["wall"] for p in self.passes if p["pass"] > 0 and p["traced"]]
        plain_p = [p["wall"] for p in self.passes if p["pass"] > 0 and not p["traced"]]
        if traced_p and plain_p:
            m["trace.overhead_frac"] = (
                statistics.median(traced_p) / statistics.median(plain_p) - 1
            )
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", default="",
                    help="traced runs: write the spans as JSON to this path")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pywrangler_spark")):
        print(f"pywrangler_spark not found under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        # the JVM that builds the driver's command line
        "SPARK_LAUNCHER_OPTS": _java_opts(run_dir),
        "TMPDIR": tmp,
        "PYTHONWARNINGS": "ignore::FutureWarning",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = tmp
    run = Run(args, run_dir)
    steal0 = measure.steal_s()
    try:
        run.execute()
    finally:
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    if args.spans and run.traced:
        run.spans.dump(args.spans)

    attempted = len(run.ops) or 1
    failed = run.failed_ops()
    units = PER_LAYER if run.traced else END_TO_END
    values = run.per_layer() if run.traced else run.end_to_end()
    warm = sum(1 for r in run.ops if r["pass"] > 0)
    print(json.dumps({
        "report": args.workload, "seed": args.seed, "seconds": args.seconds,
        "driver_memory": DRIVER_MEMORY, "cores": CORES,
        "cold_ops": attempted - warm, "warm_ops": warm,
        "warm_passes": len(run.passes) - 1,
        "setup_wall_s": round(run.setup_wall, 4),
        "unbounded": {k: {"value": v, "unit": UNBOUNDED[k]}
                      for k, v in run.unbounded().items()},
        "phases_s": run.phases,
        "checks_s": {k: round(v, 2) for k, v in run.checks.items()},
        "failed_frac": failed / attempted,
        "steal_s": round(measure.steal_s() - steal0, 2),
        "rss_peaks_mb": {k: round(v / MB) for k, v in run.proc.peak_parts.items()},
        "ops": [[r["name"], r["pass"], round(r["wall"], 3),
                 round(r.get("cpu", 0), 2)] for r in run.ops],
        "failures": {**run.problems, **{
            r["op"]: r["error"] for r in run.ops if not r["ok"]}},
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def _java_opts(run_dir: str) -> str:
    """Keep a JVM's files inside the run directory: its temp dir there,
    and no perf-data file (HotSpot writes one under /tmp)."""
    return f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"


def _stop_jvm() -> None:
    """Stop the JVM this process launched and wait for it and every
    process below it (the Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    below = measure.descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # already gone
        traceback.print_exc(file=sys.stderr)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline, killed = time.time() + 20, False
    while alive := [pid for pid in below if _running(pid)]:
        if time.time() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} did not end")
            for pid in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            deadline, killed = time.time() + 5, True
        time.sleep(0.05)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


if __name__ == "__main__":
    sys.exit(main())
