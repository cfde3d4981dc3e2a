"""Benchmark of the chinook Spark engine: one closed-loop client (this
process) submits the next query of a workload when the previous one has
returned, the way an analyst's long-lived session does.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 6 --trace 0

A run sets up the session and catalog once, JVM launch included, times a
first pass over the workload's queries in their committed order in that
fresh session, checks every query's output against its DuckDB oracle,
runs a few untimed warm-up passes, then times warm passes for
``--seconds`` (at least three).  The seed orders the warm-up and warm
passes.  Only the last stdout line is the
result: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
spans and Spark counters are recorded around every call into the
program, one streaming path and the synthetic source are drained after
the warm passes, and the per-layer metrics are printed instead.

The program is imported from the repository root; without it the run
exits with status 2 and prints no result.  Everything the run writes
stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "chinook_music_database_analysis_spark"

import sparkstats  # noqa: E402
from splitcopy import ensure_split_copy  # noqa: E402
from tracing import Tracer, self_by_name  # noqa: E402
from workloads import OPERATOR_MODULES, WORKLOADS, operator_of, pass_orders  # noqa: E402

#: timed warm passes a run makes at the least, whatever ``--seconds``;
#: a traced run makes four, so that two are traced and two are not.
MIN_TIMED_PASSES = 3
MIN_TRACED_RUN_PASSES = 4
#: row-group size of the olap copy (the shipped tables hold one each).
ROWS_PER_GROUP = 65536
#: llm_index data: the shipped layout at the correctness scale, whose
#: store training fits a run (a first pass of these queries takes about
#: twice as long at sf0.1).
LLM_INDEX_SCALE = "sf0.01"
#: the streaming path a traced run drains availableNow from the sf0.1
#: shipped events, and the rows the synthetic source generates.
STREAM_PATH = "stateful_totals"
SYNTHETIC_ROWS = 500_000

#: program settings read from the environment; unset so that every run
#: uses the program's defaults.
PROGRAM_KNOBS = (
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_PLAN_MEMO", "SPARK_GRAFT_VECTOR_DOT",
    "SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_DRIVER_MEMORY",
    "SPARK_AQE_PARALLELISM_FIRST", "SPARK_ADVISORY_PARTITION_BYTES",
    "CHINOOK_SPARK_NATION0",
)

E2E_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
}

EXEC_COUNTERS = (
    "jobs", "stages", "tasks", "scan_rows", "scan_time_ms",
    "shuffle_write_bytes", "spill_bytes", "broadcast_build_ms",
    "peak_memory_bytes",
)

LAYER_UNITS = {
    "sources.get_spark_s": "s",
    "sources.register_views_s": "s",
    "plans.registry.build_s": "s",
    "plans.registry.memo_hit_frac": "frac",
    "exec.first_action_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.scan_rows": "count",
    "exec.scan_time_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.broadcast_build_ms": "ms",
    "exec.peak_memory_bytes": "bytes",
    "plans.extensions.store.train_n": "count",
    "plans.extensions.store.load_n": "count",
    "plans.extensions.store.train_query_s": "s",
    "plans.extensions.store.mb": "MB",
    "plans.extensions.store.scan_rows": "count",
    "plans.extensions.store.scan_time_ms": "ms",
    "plans.extensions.memo.persisted_n": "count",
    "plans.extensions.memo.cached_mb": "MB",
    **{f"streaming.{STREAM_PATH}.{k}": u for k, u in (
        ("trigger_ms", "ms"), ("add_batch_ms", "ms"), ("commit_ms", "ms"),
        ("batches", "count"), ("state_rows", "count"), ("state_mem_bytes", "bytes"),
        ("rows_per_s", "1/s"),
    )},
    "sources.synthetic.rows_per_s": "1/s",
    **{f"operators.{m}.first_query_s": "s" for m in OPERATOR_MODULES},
    **{f"operators.{m}.action_s": "s" for m in OPERATOR_MODULES},
    "process.peak_rss_mb": "MB",
    "bench.self_s": "s",
    "trace.overhead_s": "s",
}


class Tally:
    """Operations attempted and failed (exceptions and wrong results)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, what: str, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# FAILED {what}: {detail}"[:400], file=sys.stderr)


def check_outputs(names, run_query, run_oracle, compare, tally: Tally) -> None:
    """Compare each query's result with its oracle's; an exception or a
    mismatch counts as a failed operation."""
    for name in names:
        try:
            mismatch = compare(run_query(name), run_oracle(name), name)
        except Exception as ex:  # one broken query must not end the run
            mismatch = f"{type(ex).__name__}: {ex}"
        tally.record(mismatch is None, f"check {name}", mismatch or "")


def e2e_metrics(setup, first_pass, warm_passes, warm_samples) -> dict:
    values = {
        "setup_s": setup,
        "first_pass_s": first_pass,
        "pass_s": statistics.median(warm_passes),
        "query_p50_s": statistics.median(warm_samples),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def pass_counters(recs: list[dict]) -> Counter:
    """Spark counters of one pass: summed over its queries, except the
    peak memory, which is the largest of the queries' peaks."""
    out = Counter()
    for r in recs:
        c = r.get("counters", Counter())
        peak = max(out["peak_memory_bytes"], c["peak_memory_bytes"])
        out.update(c)
        out["peak_memory_bytes"] = peak
    return out


def layer_metrics(values: dict) -> dict:
    return {k: {"value": values[k], "unit": u} for k, u in LAYER_UNITS.items()}


def pin_environment(cpus: int, run_dir: str) -> None:
    """Fix everything the program reads from the environment, and keep
    Spark's scratch files inside the run directory."""
    for knob in PROGRAM_KNOBS:
        os.environ.pop(knob, None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_INDEX_DIR"] = os.path.join(run_dir, "index")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # pandas-UDF workers are started by the JVM, so the repo root must be
    # on PYTHONPATH, not only on this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    # the launcher JVM that spark-submit starts first gets the same flags
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        # -XX:-UsePerfData: no hsperfdata file outside the run directory
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(entry))
            except (OSError, ValueError, IndexError):
                pass
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started,
    and wait for each to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    workers = _children(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    while workers and time.monotonic() < deadline:
        workers = [w for w in workers if os.path.exists(f"/proc/{w}")]
        time.sleep(0.1)
    for w in workers:
        try:
            os.kill(w, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Runner:
    """One benchmark run of one workload."""

    def __init__(self, args, program, data_dir: str, index_dir: str, run_dir: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.p = program
        self.sf = data_dir
        self.index_dir = index_dir
        self.run_dir = run_dir
        self.traced = bool(args.trace)
        self.tr = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", self.traced)
        self.tally = Tally()
        self.spark = None
        self.prev_df: dict = {}
        self.memo = Counter()

    # -- set-up -------------------------------------------------------------
    def setup(self) -> float:
        t0 = time.perf_counter()
        with self.tr.span("setup"):
            with self.tr.span("sources.get_spark"):
                self.spark = self.p.get_spark("perfbench")
            with self.tr.span("sources.register_views"):
                self.p.register_views(self.spark, self.sf)
        return time.perf_counter() - t0

    # -- one query ------------------------------------------------------------
    def query(self, name: str, kind: str, traced: bool) -> dict:
        """Build and execute one query; returns its wall and, when traced,
        its Spark counters."""
        sc = self.spark.sparkContext
        before = dict(self.p.STORE_EVENTS)
        rec = {"name": name, "ok": False}
        with self.tr.span("query", query=name, module=operator_of(name)):
            t0 = time.perf_counter()
            try:
                if traced:
                    group = f"perfbench-{self.tally.attempted}"
                    sc.setJobGroup(group, name)
                with self.tr.span("plans.registry.build"):
                    df = self.p.QUERIES[name](self.spark, self.sf)
                agg = df.groupBy().count()
                with self.tr.span("exec.action"):
                    agg.collect()
                rec["wall"] = time.perf_counter() - t0
                rec["ok"] = True
            except Exception as ex:  # one broken query must not end the run
                rec["error"] = f"{type(ex).__name__}: {ex}"
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
            if rec["ok"]:
                if kind == "warm":
                    self.memo["calls"] += 1
                    self.memo["hits"] += df is self.prev_df.get(name)
                self.prev_df[name] = df
                if traced:
                    rec["counters"] = sparkstats.job_counts(sc, group)
                    rec["counters"] += sparkstats.plan_metrics(agg, self.index_dir)
        rec["trained"] = any(
            v == "train" and before.get(k) != "train" for k, v in self.p.STORE_EVENTS.items()
        )
        self.tally.record(rec["ok"], f"query {name}", rec.get("error", ""))
        return rec

    def run_pass(self, order: list[str], kind: str, traced: bool) -> dict:
        t0 = time.perf_counter()
        with self.tr.span("pass", kind=kind, traced=traced) as span:
            recs = [self.query(n, kind, traced) for n in order]
        return {"wall": time.perf_counter() - t0, "recs": recs, "span": span}

    # -- streams (traced run only) -----------------------------------------
    def drain(self, name: str, df, mode: str, expected_rows: int) -> dict:
        """Drain a streaming DataFrame availableNow into the noop sink, as
        one span with one child span per micro-batch; an exception or a
        wrong total of input rows counts as a failed operation."""
        checkpoint = os.path.join(self.run_dir, "checkpoints", name)
        progress, wall, error = [], 0.0, ""
        with self.tr.span("stream", path=name):
            wall0, t0 = time.time(), time.perf_counter()
            try:
                q = (
                    df.writeStream.format("noop").outputMode(mode)
                    .option("checkpointLocation", checkpoint)
                    .trigger(availableNow=True).start()
                )
                q.awaitTermination()
                wall = time.perf_counter() - t0
                progress = [json.loads(p.json) for p in q.recentProgress]
            except Exception as ex:  # a broken stream must not end the run
                error = f"{type(ex).__name__}: {ex}"
            for p in progress:
                start = t0 + sparkstats.epoch_s(p["timestamp"]) - wall0
                self.tr.record("stream.batch", start,
                               start + p["durationMs"].get("triggerExecution", 0) / 1000)
        totals = sparkstats.stream_totals(progress)
        totals["rows_per_s"] = totals["input_rows"] / wall if wall else 0.0
        self.tally.record(
            not error and totals["input_rows"] == expected_rows, f"stream {name}",
            error or f"{totals['input_rows']} input rows, expected {expected_rows}",
        )
        return totals

    def streams(self, events_dir: str) -> dict:
        """The stateful per-user totals path over the events table (one
        input side), then the synthetic Python source."""
        p = self.p
        events = p.read_events_stream(self.spark, events_dir)
        totals = self.drain(STREAM_PATH, p.user_running_totals_stream(events), "update",
                            p.parquet_rows(os.path.join(events_dir, "events.parquet")))
        p.register_synthetic(self.spark)
        synthetic = (
            self.spark.readStream.format("synthevents")
            .option("rows_per_batch", SYNTHETIC_ROWS).option("max_rows", SYNTHETIC_ROWS)
            .option("n_partitions", 8).load()
        )
        source = self.drain("synthetic", synthetic, "append", SYNTHETIC_ROWS)
        values = {f"streaming.{STREAM_PATH}.{k}": v for k, v in totals.items()
                  if k != "input_rows"}
        values["sources.synthetic.rows_per_s"] = source["rows_per_s"]
        return values

    # -- whole run ----------------------------------------------------------
    def run(self, events_dir: str) -> tuple[dict, dict]:
        p, wl = self.p, self.wl
        phases = {}
        t_phase = time.perf_counter()

        def phase(name):
            nonlocal t_phase
            now = time.perf_counter()
            phases[name] = now - t_phase
            t_phase = now

        with self.tr.span("run", workload=wl.name, seed=self.args.seed):
            setup = self.setup()
            self.spark.sparkContext.setLogLevel("ERROR")
            sc = self.spark.sparkContext
            phase("setup")

            first_order = list(wl.queries)
            first = self.run_pass(first_order, "first", self.traced)
            store_after_first = dict(p.STORE_EVENTS)
            store_mb = sparkstats.dir_mb(self.index_dir)
            if wl.fresh_store:
                loads = sorted(k for k, v in store_after_first.items() if v == "load")
                self.tally.record(not loads, "first pass trains from an empty store",
                                  f"loaded {loads}")

            phase("first_pass")

            # The untimed check executes every query once more, which also
            # settles the JIT warm-up that the first timed warm pass would
            # otherwise still pay.
            with self.tr.span("check"):
                oracles = OracleResults(p, self.sf, os.path.join(WORK, "oracles"))
                check_outputs(
                    wl.queries,
                    lambda n: p.QUERIES[n](self.spark, self.sf).toPandas(),
                    oracles.get,
                    p.frames_mismatch,
                    self.tally,
                )
                oracles.close()
            phase("check")

            orders = pass_orders(wl.queries, self.args.seed)
            warmup_orders = [next(orders) for _ in range(wl.warmup_passes)]
            for order in warmup_orders:
                self.run_pass(order, "warmup", False)
            phase("warmup_passes")

            warm, warm_orders = [], []
            t_warm = time.perf_counter()
            min_passes = MIN_TRACED_RUN_PASSES if self.traced else MIN_TIMED_PASSES
            while len(warm) < min_passes or time.perf_counter() - t_warm < self.args.seconds:
                order = next(orders)
                # traced, untraced, untraced, traced, traced, ... so that a
                # linear drift cancels out of the tracing overhead
                traced = self.traced and len(warm) % 4 in (0, 3)
                warm.append(self.run_pass(order, "warm", traced))
                warm_orders.append(order)
            phase("warm_passes")
            persisted_n, cached_mb = sparkstats.cached_relations(sc)
            rss = {
                "driver": sparkstats.vm_hwm_mb(),
                "jvm": sparkstats.vm_hwm_mb(sparkstats.jvm_pid(sc)),
            }
            if self.traced:
                stream_values = self.streams(events_dir)
                phase("streams")

        provenance = {
            "workload": wl.name,
            "seed": self.args.seed,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "data_dir": self.sf,
            "first_order": first_order,
            "warmup_orders": warmup_orders,
            "warm_orders": warm_orders,
            "setup_s": setup,
            "store_events_after_first": store_after_first,
            "warm_pass_s": [w["wall"] for w in warm],
            "query_s": {
                n: [r.get("wall") for ps in [first] + warm for r in ps["recs"] if r["name"] == n]
                for n in wl.queries
            },
            "peak_rss_mb": rss,
            "phase_s": phases,
        }
        if self.traced:
            metrics, provenance["traced_pass_self_s"] = self.layer_values(
                first, warm, store_after_first, store_mb, persisted_n, cached_mb
            )
            metrics["process.peak_rss_mb"] = sum(rss.values())
            metrics.update(stream_values)
            result = layer_metrics(metrics)
        else:
            samples = [r["wall"] for w in warm for r in w["recs"] if r["ok"]]
            result = e2e_metrics(setup, first["wall"], [w["wall"] for w in warm],
                                 samples or [0.0])
            provenance["warm_samples"] = len(samples)
        return result, provenance

    def layer_values(self, first, warm, store, store_mb, persisted_n, cached_mb):
        """Per-layer metric values, and the self time per span name of each
        traced pass (they add up to the pass wall)."""
        spans = self.tr.spans
        v: dict = {}
        by_name = lambda n: [s.end - s.start for s in spans if s.name == n]  # noqa: E731
        v["sources.get_spark_s"], = by_name("sources.get_spark")
        v["sources.register_views_s"], = by_name("sources.register_views")

        def pass_layers(ps) -> dict:
            """Self time per span name inside one pass, plus its counters."""
            out = dict(self_by_name(spans, ps["span"]))
            out["counters"] = pass_counters(ps["recs"])
            return out

        def module_action(ps) -> Counter:
            out = Counter()
            query_spans = {s.span_id: s for s in spans
                           if s.name == "query" and s.parent == ps["span"].span_id}
            for s in spans:
                if s.name == "exec.action" and s.parent in query_spans:
                    mod = query_spans[s.parent].attrs.get("module")
                    if mod:
                        out[mod] += s.end - s.start
            return out

        f = pass_layers(first)
        v["plans.registry.build_s"] = f.get("plans.registry.build", 0.0)
        v["exec.first_action_s"] = f.get("exec.action", 0.0)
        traced_warm = [w for w in warm if w["span"].attrs["traced"]]
        untraced_warm = [w for w in warm if not w["span"].attrs["traced"]]
        layers = [pass_layers(w) for w in traced_warm]
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        v["plans.registry.memo_hit_frac"] = (
            self.memo["hits"] / self.memo["calls"] if self.memo["calls"] else 0.0
        )
        v["exec.action_s"] = med([lay.get("exec.action", 0.0) for lay in layers])
        for c in EXEC_COUNTERS:
            v[f"exec.{c}"] = med([lay["counters"][c] for lay in layers])
        v["plans.extensions.store.train_n"] = sum(1 for x in store.values() if x == "train")
        v["plans.extensions.store.load_n"] = sum(1 for x in store.values() if x == "load")
        v["plans.extensions.store.train_query_s"] = sum(
            r["wall"] for r in first["recs"] if r["ok"] and r["trained"]
        )
        v["plans.extensions.store.mb"] = store_mb
        v["plans.extensions.store.scan_rows"] = med(
            [lay["counters"]["store_scan_rows"] for lay in layers])
        v["plans.extensions.store.scan_time_ms"] = med(
            [lay["counters"]["store_scan_time_ms"] for lay in layers])
        v["plans.extensions.memo.persisted_n"] = persisted_n
        v["plans.extensions.memo.cached_mb"] = cached_mb
        # first pass: the whole query wall, because store training runs in
        # the builders; warm: the action alone (warm builds are memo hits)
        first_mod = Counter()
        for r in first["recs"]:
            if r["ok"]:
                first_mod[operator_of(r["name"])] += r["wall"]
        warm_mod = [module_action(w) for w in traced_warm]
        for m in OPERATOR_MODULES:
            v[f"operators.{m}.first_query_s"] = first_mod[m]
            v[f"operators.{m}.action_s"] = med([wm[m] for wm in warm_mod])
        v["bench.self_s"] = med([lay.get("pass", 0.0) + lay.get("query", 0.0) for lay in layers])
        v["trace.overhead_s"] = (
            med([w["wall"] for w in traced_warm]) - med([w["wall"] for w in untraced_warm])
        )
        breakdown = [{k: x for k, x in lay.items() if k != "counters"} for lay in [f] + layers]
        return v, breakdown


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class _Program:
    """The program's entry points, imported once the environment is pinned
    (the index-store root is read at import time)."""

    def __init__(self):
        import duckdb

        from chinook_music_database_analysis_spark.plans import ORACLES, QUERIES
        from chinook_music_database_analysis_spark.plans.extensions import STORE_EVENTS
        from chinook_music_database_analysis_spark.sources import get_spark, register_views
        from chinook_music_database_analysis_spark.sources.session import (
            DEFAULT_SF_DIR,
            TABLES,
        )
        from chinook_music_database_analysis_spark.sources.synthetic import register
        from chinook_music_database_analysis_spark.streaming.events import read_events_stream
        from chinook_music_database_analysis_spark.streaming.stateful import (
            user_running_totals_stream,
        )
        from chinook_music_database_analysis_spark.testing import frames_mismatch

        self.QUERIES, self.ORACLES, self.STORE_EVENTS = QUERIES, ORACLES, STORE_EVENTS
        self.get_spark, self.register_views = get_spark, register_views
        self.DEFAULT_SF_DIR, self.TABLES = DEFAULT_SF_DIR, TABLES
        self.frames_mismatch = frames_mismatch
        self.read_events_stream = read_events_stream
        self.user_running_totals_stream = user_running_totals_stream
        self.register_synthetic = register
        self.duckdb_module = duckdb

    def parquet_rows(self, path: str) -> int:
        con = self.duckdb_module.connect()
        try:
            return con.execute("SELECT count(*) FROM read_parquet(?)", [path]).fetchone()[0]
        finally:
            con.close()


class OracleResults:
    """The DuckDB oracles' results on one data directory.  A result is
    kept under ``cache_dir``, keyed by the oracle's SQL, the DuckDB version
    and the data files' size and mtime, so that a later run on the same
    inputs reads it back instead of running DuckDB again."""

    def __init__(self, program, sf_dir: str, cache_dir: str):
        self.p, self.sf, self.cache_dir = program, sf_dir, cache_dir
        self.con = None
        self.inputs = [program.duckdb_module.__version__, os.path.abspath(sf_dir)]
        for t in program.TABLES:
            st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
            self.inputs.append([t, st.st_size, st.st_mtime_ns])
        os.makedirs(cache_dir, exist_ok=True)

    def get(self, name: str):
        import pandas as pd

        sql = self.p.ORACLES[name]
        key = hashlib.sha256(json.dumps([self.inputs, sql]).encode()).hexdigest()[:20]
        path = os.path.join(self.cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        if self.con is None:
            self.con = self.p.duckdb_module.connect()
            for t in self.p.TABLES:
                table = os.path.join(self.sf, f"{t}.parquet").replace("'", "''")
                self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{table}'")
        df = self.con.sql(sql).df()
        tmp = f"{path}.{os.getpid()}"
        df.to_pickle(tmp)
        os.replace(tmp, path)
        return df

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: {PACKAGE} not found beside perfbench/", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    runner = None
    try:
        pin_environment(cpus, run_dir)
        sys.path.insert(0, REPO)
        program = _Program()
        base = program.DEFAULT_SF_DIR
        if not os.path.isdir(base):
            print(f"perfbench: data directory {base} not found", file=sys.stderr)
            return 2
        wl = WORKLOADS[args.workload]
        split = None
        if wl.split_layout:
            split = ensure_split_copy(
                base, os.path.join(WORK, "data"), program.TABLES, ROWS_PER_GROUP
            )
            data_dir = split["dir"]
        else:
            data_dir = os.path.join(os.path.dirname(base), LLM_INDEX_SCALE)
        index_dir = os.environ["SPARK_GRAFT_INDEX_DIR"]
        shutil.rmtree(index_dir, ignore_errors=True)
        index_wiped = not os.path.isdir(index_dir)

        runner = Runner(args, program, data_dir, index_dir, run_dir)
        metrics, provenance = runner.run(events_dir=base)
        provenance["index_dir_absent_before_run"] = index_wiped
        if split is not None:
            provenance["row_groups"] = split["row_groups"]
            provenance["split_copy_regenerated"] = split["regenerated"]
        if runner.traced:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_path = os.path.join(WORK, "traces", f"{runner.tr.run_id}.json")
            runner.tr.write(trace_path)
            provenance["trace_file"] = os.path.relpath(trace_path, REPO)
        tally = runner.tally
        print(json.dumps({"provenance": provenance}))
        print(json.dumps({
            "correct": tally.failed == 0 and index_wiped,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if runner is not None and runner.spark is not None:
            stop_spark(runner.spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
