#!/usr/bin/env python3
"""End-to-end benchmark of the engine.

    python3 perfbench/run.py --workload mr_sql --seed 1 --seconds 20 --trace 0

One process, one client, closed loop: the queries of a workload run one
at a time through ``registry.REGISTRY[name].fn(spark, data_dir)`` and a
noop write, on a session from the public ``session.get_spark`` with
``local[<nproc>]``. The first pass is the cold pass, then come
WARM_PASSES warm passes; a run that reaches ``--seconds`` stops early,
after at least one warm pass. The seed sets the order of the queries
within each pass. The input tables are the engine's sf0.001 test
tables, kept read-only under ``perfbench/data/``.

After the timed window, the output of every query of the last pass is
collected and compared with its DuckDB oracle in the canonical form of
``tests/oracle_util``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` records
spans around the calls into each layer plus Spark's jobs and stages,
writes them to ``.perfbench_work/trace-<workload>-<seed>.json``, and
reports per-layer metrics; its warm passes alternate traced and
untraced, and the difference is the tracing overhead.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
The line before it is a report with the run's settings (nproc, Spark
version, seed), sample counts and per-query times.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import signal
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")
PACKAGE = "map_reduce_framework_spark"

sys.path.insert(0, HERE)

import procstat  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: scale of the input tables (lineitem = 6,000,000 x SF rows)
SF = 0.001
DATA_DIR = os.path.join(HERE, "data", f"sf{SF}")
#: sessions built per run, each in a freshly launched JVM; setup_s is
#: their median
SETUPS = 2
#: warm passes after the cold one. The JVM is still warming up over the
#: first passes, so every run times the same number of them: a fixed
#: amount of work, with ``--seconds`` as the cap on the timed window.
WARM_PASSES = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def percentile_summary(values: list[float]) -> dict:
    """Median plus the highest of p99/p95/p90/p75 that has at least ten
    samples beyond it, with the sample count."""
    out = {"n": len(values)}
    if not values:
        return out
    out["median"] = statistics.median(values)
    ordered = sorted(values)
    for p in (99, 95, 90, 75):
        if len(values) * (100 - p) / 100 >= 10:
            idx = min(len(ordered) - 1, math.ceil(p / 100 * len(ordered)) - 1)
            out[f"p{p}"] = ordered[idx]
            break
    return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def configure_env() -> None:
    """Process environment the session, its JVM and the Python workers
    inherit: repo on PYTHONPATH (UDF modules import in workers from any
    working directory), core count, and scratch space inside the
    checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def session_conf() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def warm_up(spark) -> None:
    """One JVM job and one Python-worker job on every core."""
    n = nproc()
    spark.range(0, 100_000, numPartitions=n).selectExpr("sum(id)").collect()
    spark.sparkContext.parallelize(range(n), n).mapPartitions(
        lambda it: [sum(it)]
    ).collect()


class Bench:
    def __init__(self, args, data_dir: str):
        self.args = args
        self.data_dir = data_dir
        self.workload = WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.spark = None
        self.jvm_pid = None
        self.tracer = None
        self.reader = None
        self.setups: list[dict] = []
        self.passes: list[dict] = []
        self.execs: list[dict] = []
        self.checks: list[dict] = []

    # -- session -----------------------------------------------------------

    def span(self, name: str, **attrs):
        """A span when tracing, else nothing."""
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def _import_engine(self):
        if self.trace:
            from spans import Tracer

            self.tracer = Tracer()
            self.tracer.active = True  # run passes toggle it per pass
            self.tracer.install()  # before registry: modules bind at import
        from map_reduce_framework_spark import registry, session

        if self.tracer is not None:
            self.tracer.install()  # rebind names imported by registry
        return registry, session

    def setup(self, session) -> None:
        """Build the session SETUPS times, each in a new JVM (pyspark
        keeps its gateway JVM across ``spark.stop()``, so the previous
        one is shut down first), warming each up."""
        for _ in range(SETUPS):
            self.close()
            t0 = time.perf_counter()
            with self.span("session.get_spark"):
                self.spark = session.get_spark(
                    f"perfbench-{self.workload.name}", extra_conf=session_conf()
                )
            t1 = time.perf_counter()
            self.spark.sparkContext.setLogLevel("ERROR")
            with self.span("session.warmup"):
                warm_up(self.spark)
            t2 = time.perf_counter()
            self.setups.append({"get_spark_s": t1 - t0, "warmup_s": t2 - t1})
        self.jvm_pid = self._find_jvm()

    def _find_jvm(self) -> int:
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        procs = procstat.tree(pid)
        for p in sorted(procs.values(), key=lambda p: p.pid != pid):
            if p.comm == "java":
                return p.pid
        raise RuntimeError(f"no java process under gateway pid {pid}")

    def close(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for each.
        The next ``get_spark`` launches a new JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        SparkContext._gateway = SparkContext._jvm = None
        leftover = set(procstat.tree(gateway.proc.pid))
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except Exception:
            gateway.proc.kill()
            gateway.proc.wait()
        deadline = time.monotonic() + 30
        while leftover and time.monotonic() < deadline:
            leftover = {p for p in leftover if os.path.exists(f"/proc/{p}")}
            if leftover:
                time.sleep(0.1)
        for p in leftover:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass

    # -- passes ------------------------------------------------------------

    def run_query(self, registry, name: str, index: int, traced: bool, keep: dict):
        rec = {"pass": index, "query": name, "ok": False, "traced": traced}
        if traced:
            self.reader.mark()
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span("query", query=name, pass_index=index) as qid:
                    self.tracer.query_span = qid
                    with self.tracer.span("registry.build"):
                        df = registry.REGISTRY[name].fn(self.spark, self.data_dir)
                    rec["cached_block_bytes"] = self.reader.cached_bytes()
                    with self.tracer.span("operators.execute"):
                        df.write.format("noop").mode("overwrite").save()
            else:
                df = registry.REGISTRY[name].fn(self.spark, self.data_dir)
                df.write.format("noop").mode("overwrite").save()
            rec["ok"] = True
            keep[name] = df
        except Exception:
            rec["error"] = traceback.format_exc(limit=5)
            print(f"[perfbench] {name} failed:\n{rec['error']}", file=sys.stderr)
        rec["total_s"] = time.perf_counter() - t0
        if traced:
            self.tracer.query_span = None
            self._attach_spark_spans(qid, self.reader.collect(), rec)
        self.execs.append(rec)

    def _attach_spark_spans(self, qid: int, status: dict, rec: dict) -> None:
        children = [s for s in self.tracer.spans if s["parent"] == qid]
        attached = set()
        for job in status["jobs"]:
            start = (job.get("submissionTime") or 0) / 1000
            end = (job.get("completionTime") or job.get("submissionTime") or 0) / 1000
            parent = next(
                (c["id"] for c in children
                 if c["name"] in ("registry.build", "operators.execute")
                 and c["start"] <= start <= c["end"]),
                qid,
            )
            jid = self.tracer.add(
                "spark.job", start, end, parent,
                job_id=job["jobId"], status=job["status"],
            )
            for sid in job["stageIds"]:
                if sid in attached:
                    continue
                attached.add(sid)
                for att in status["stages"][sid]:
                    self.tracer.add(
                        "spark.stage",
                        (att.get("submissionTime") or 0) / 1000,
                        (att.get("completionTime") or 0) / 1000,
                        jid,
                        stage_id=sid,
                        attempt=att["attemptId"],
                        status=att["status"],
                        metrics={k: v for k, v in att.items()
                                 if isinstance(v, (int, float))},
                    )
        rec["executions"] = status["executions"]

    def run_passes(self, registry) -> dict:
        rng = random.Random(self.args.seed)
        root = os.getpid()
        start = time.monotonic()
        # trace runs: cold pass traced, then warm passes traced and
        # untraced in the order T U U T, so neither side runs warmer
        n_passes = 5 if self.trace else 1 + WARM_PASSES
        index = 0
        keep: dict = {}
        while index < n_passes:
            late = time.monotonic() - start >= self.args.seconds
            if late and index >= 2 and not self.trace:
                print(f"[perfbench] --seconds reached after {index} passes",
                      file=sys.stderr)
                break
            order = list(self.workload.queries)
            rng.shuffle(order)
            traced = self.trace and index % 4 in (0, 1)
            if self.tracer is not None:
                self.tracer.active = traced
            keep = {}
            cpu0 = procstat.cpu_snapshot(root, self.jvm_pid)
            t0 = time.perf_counter()
            with self.span("pass", pass_index=index):
                for name in order:
                    self.run_query(registry, name, index, traced, keep)
            wall = time.perf_counter() - t0
            cpu = procstat.cpu_snapshot(root, self.jvm_pid) - cpu0
            self.passes.append(
                {"index": index, "traced": traced, "wall_s": wall, "cpu": cpu}
            )
            index += 1
        if self.tracer is not None:
            self.tracer.active = False
        return keep

    # -- correctness -------------------------------------------------------

    def check(self, registry, outputs: dict) -> None:
        """Collect each query's last output and compare it with its
        DuckDB oracle, outside the timed window."""
        from tests.oracle_util import _normalize, duckdb_conn

        con = duckdb_conn(self.data_dir)
        try:
            for name in self.workload.queries:
                rec = {"query": name, "ok": False}
                self.checks.append(rec)
                if name not in outputs:
                    rec["error"] = "no output: every timed execution failed"
                    continue
                sql = registry.REGISTRY[name].oracle
                if name in self.args.wrong_oracle:
                    sql = f"SELECT * FROM ({sql}) AS o LIMIT 0"
                try:
                    df = outputs[name]
                    got = _normalize(df.columns, [tuple(r) for r in df.collect()])
                    rel = con.sql(registry.materialize_ctes(sql))
                    want = _normalize(list(rel.columns), rel.fetchall())
                    if sorted(df.columns) != sorted(rel.columns):
                        rec["error"] = f"columns {sorted(df.columns)} != {sorted(rel.columns)}"
                    elif got != want:
                        rec["error"] = f"rows differ: {len(got)} vs oracle {len(want)}"
                    else:
                        rec["ok"] = True
                except Exception:
                    rec["error"] = traceback.format_exc(limit=5)
                if not rec["ok"]:
                    print(f"[perfbench] {name} mismatch: {rec['error']}", file=sys.stderr)
        finally:
            con.close()

    # -- metrics -----------------------------------------------------------

    def warm(self, traced: bool | None = None) -> list[dict]:
        return [p for p in self.passes[1:] if traced is None or p["traced"] == traced]

    def warm_query_times(self) -> dict[str, list[float]]:
        """Successful warm-pass times of each query, untraced passes only."""
        idx = {p["index"] for p in self.warm(traced=False)}
        out: dict[str, list[float]] = {}
        for e in self.execs:
            if e["ok"] and e["pass"] in idx:
                out.setdefault(e["query"], []).append(e["total_s"])
        return out

    def end_to_end(self) -> dict:
        warm = self.warm()
        return {
            "setup_s": (statistics.median(s["get_spark_s"] + s["warmup_s"] for s in self.setups), "s"),
            "cold_pass_s": (self.passes[0]["wall_s"], "s"),
            "warm_pass_s": (statistics.median(p["wall_s"] for p in warm), "s"),
            # per-query medians first, so one slow pass moves it little
            "query_geomean_s": (statistics.geometric_mean(
                statistics.median(ts) for ts in self.warm_query_times().values()), "s"),
            "cpu_s": (statistics.median(p["cpu"].total_s for p in warm), "s"),
        }

    def per_layer(self, peak_rss_bytes: int) -> dict:
        traced = self.warm(traced=True)
        untraced = self.warm(traced=False)
        per_pass = [self._layers_of_pass(p) for p in traced]
        out = {
            name: (statistics.median(d[name][0] for d in per_pass), per_pass[0][name][1])
            for name in per_pass[0]
        }
        out["session.get_spark_s"] = (statistics.median(s["get_spark_s"] for s in self.setups), "s")
        out["session.warmup_s"] = (statistics.median(s["warmup_s"] for s in self.setups), "s")
        # the JVM heap grows with run length: too unsteady for end to end
        out["process_tree.peak_rss_mb"] = (peak_rss_bytes / 2**20, "MB")
        out["bench.trace_overhead_s"] = (
            statistics.median(p["wall_s"] for p in traced)
            - statistics.median(p["wall_s"] for p in untraced),
            "s",
        )
        return out

    def _layers_of_pass(self, p: dict) -> dict:
        spans = self.tracer.spans
        by_parent: dict = {}
        for s in spans:
            by_parent.setdefault(s["parent"], []).append(s)

        def descendants(sid):
            for c in by_parent.get(sid, []):
                yield c
                yield from descendants(c["id"])

        queries = [s for s in spans if s["name"] == "query"
                   and s["attrs"]["pass_index"] == p["index"]]
        recs = [e for e in self.execs if e["pass"] == p["index"]]
        build_self = exec_self = 0.0
        named: dict[str, list[dict]] = {}
        jobs, stage_atts = [], []
        for q in queries:
            desc = list(descendants(q["id"]))
            for s in desc:
                named.setdefault(s["name"], []).append(s)
            q_jobs = [s for s in desc if s["name"] == "spark.job"]
            jobs += q_jobs
            stage_atts += [s for s in desc if s["name"] == "spark.stage"]
            job_iv = [(j["start"], j["end"]) for j in q_jobs]
            for c in by_parent.get(q["id"], []):
                if c["name"] == "registry.build":
                    calls = [(s["start"], s["end"]) for s in desc
                             if s["name"] in ("sources.io.load_table",
                                              "session.stage_checkpoint",
                                              "streaming.ops.run_to_memory")]
                    build_self += (c["end"] - c["start"]) - union_length(
                        calls + job_iv, c["start"], c["end"])
                elif c["name"] == "operators.execute":
                    exec_self += (c["end"] - c["start"]) - union_length(
                        job_iv, c["start"], c["end"])
        run_stages = [s for s in stage_atts if s["attrs"]["status"] != "SKIPPED"]
        m = [s["attrs"]["metrics"] for s in run_stages]

        def total(key):
            return sum(x.get(key, 0) for x in m)

        stage_ids = {s["attrs"]["stage_id"] for s in run_stages}
        needed = {s["attrs"]["stage_id"]: s["attrs"]["metrics"].get("numTasks", 0)
                  for s in run_stages if s["attrs"]["attempt"] == 0}
        attempts = total("numCompleteTasks") + total("numFailedTasks") + total("numKilledTasks")
        sql = self._python_sql_metrics(recs)
        task_cpu = (total("executorCpuTime") + total("executorDeserializeCpuTime")) / 1e9

        def dur(name):
            return sum(s["end"] - s["start"] for s in named.get(name, []))

        return {
            "registry.build_self_s": (build_self, "s"),
            "operators.execute_self_s": (exec_self, "s"),
            "sources.load_table_calls": (len(named.get("sources.io.load_table", [])), "count"),
            "sources.load_table_s": (dur("sources.io.load_table"), "s"),
            "sources.input_bytes": (total("inputBytes"), "B"),
            "sources.input_records": (total("inputRecords"), "count"),
            "operators.jobs": (len(jobs), "count"),
            "operators.stages": (len(stage_ids), "count"),
            "operators.tasks": (attempts, "count"),
            "operators.task_run_s": (total("executorRunTime") / 1e3, "s"),
            "operators.task_cpu_s": (task_cpu, "s"),
            "operators.gc_s": (total("jvmGcTime") / 1e3, "s"),
            "operators.core_util": (
                total("executorRunTime") / 1e3 / (p["wall_s"] * nproc()), "ratio"),
            "operators.shuffle_write_bytes": (total("shuffleWriteBytes"), "B"),
            "operators.shuffle_read_bytes": (total("shuffleReadBytes"), "B"),
            "operators.spill_bytes": (total("diskBytesSpilled"), "B"),
            "operators.output_bytes": (total("outputBytes"), "B"),
            "operators.python_cpu_s": (p["cpu"].python_s, "s"),
            "operators.python_run_s": (sql["run"], "s"),
            "operators.python_start_s": (sql["start"], "s"),
            "operators.python_bytes_sent": (sql["sent"], "B"),
            "operators.python_bytes_returned": (sql["returned"], "B"),
            "operators.jvm_overhead_cpu_s": (p["cpu"].jvm_s - task_cpu, "s"),
            "driver.cpu_s": (p["cpu"].driver_s, "s"),
            "session.stage_checkpoint_calls": (
                len(named.get("session.stage_checkpoint", [])), "count"),
            "operators.cached_block_bytes": (
                max((r.get("cached_block_bytes", 0) for r in recs), default=0), "B"),
            "operators.stage_attempts_per_stage": (
                len(run_stages) / len(stage_ids) if stage_ids else 1.0, "ratio"),
            "operators.task_attempts_per_task": (
                attempts / sum(needed.values()) if needed else 1.0, "ratio"),
            "streaming.run_to_memory_s": (dur("streaming.ops.run_to_memory"), "s"),
        }

    @staticmethod
    def _python_sql_metrics(recs: list[dict]) -> dict:
        from spans import parse_metric

        keys = {
            "time to run python workers": "run",
            "time to start python workers": "start",
            "time to initialize python workers": "start",
            "data sent to python workers": "sent",
            "data returned from python workers": "returned",
        }
        out = dict.fromkeys(keys.values(), 0.0)
        for r in recs:
            for ex in r.get("executions", []):
                # a plan node shared by several AQE plan versions lists
                # its accumulator once per version: count each once
                seen = set()
                for metric in ex["metrics"]:
                    acc = str(metric["accumulatorId"])
                    key = keys.get(metric["name"].lower())
                    if key and acc in ex["values"] and acc not in seen:
                        seen.add(acc)
                        out[key] += parse_metric(ex["values"][acc])
        return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--wrong-oracle", action="append", default=[], metavar="QUERY",
                    help="check QUERY against a deliberately wrong expected "
                         "output (an empty result), to test the correctness gate")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, PACKAGE, "registry.py")):
        print(f"[perfbench] engine package {PACKAGE}/ not found next to "
              f"{os.path.relpath(HERE, os.getcwd())}/", file=sys.stderr)
        return 2
    configure_env()
    bench = Bench(args, DATA_DIR)
    import pyspark

    phases = {}
    t = time.monotonic()

    def phase(name):
        nonlocal t
        now = time.monotonic()
        phases[name] = now - t
        t = now

    with procstat.RssSampler(os.getpid()) as rss:
        try:
            registry, session = bench._import_engine()
            phase("import_s")
            with bench.span("run", workload=args.workload, seed=args.seed):
                bench.setup(session)
                if bench.trace:
                    from spans import StatusReader

                    bench.reader = StatusReader(bench.spark)
                phase("setup_s")
                outputs = bench.run_passes(registry)
                phase("window_s")
            bench.check(registry, outputs)
            phase("check_s")
            metrics = bench.per_layer(rss.peak_bytes) if bench.trace else bench.end_to_end()
        finally:
            bench.close()
            phase("close_s")
    if bench.trace:
        bench.tracer.dump(
            os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "nproc": nproc()},
        )

    failed = sum(not e["ok"] for e in bench.execs) + sum(not c["ok"] for c in bench.checks)
    attempted = len(bench.execs) + len(bench.checks)
    per_query = bench.warm_query_times()
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc(),
        "spark_version": pyspark.__version__,
        "sf": SF,
        "passes": [{"wall_s": p["wall_s"], "traced": p["traced"],
                    "cpu_s": p["cpu"].total_s,
                    "query_s": {e["query"]: e["total_s"] for e in bench.execs
                                if e["pass"] == p["index"]}}
                   for p in bench.passes],
        "setups": bench.setups,
        "phases": phases,
        "warm_query_s": percentile_summary(
            [t for ts in per_query.values() for t in ts]),
        "warm_query_median_s": {q: statistics.median(ts) for q, ts in per_query.items()},
        "error_rate": failed / attempted,
        "errors": [{"query": r["query"], "error": r["error"]}
                   for r in bench.execs + bench.checks if not r["ok"]],
    }
    print(json.dumps(report))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
