"""One benchmark run in its own process; ``perfbench/run.py`` starts it.

Closed loop, one client thread: each timed execution is
``Query.build`` followed by a ``noop`` write, and the next starts when
the previous one has finished. The window runs whole passes over the
workload's queries, in a seeded order per pass: at least three, and
more until ``--seconds`` have elapsed. Every query was first warmed
once, untimed and several at a time, on the same data through its own
directory of links; the engine's process caches are keyed on the
sf-dir, so the warm-up cannot serve a timed execution. After the
window, untimed, each query's last output is compared with its
registered DuckDB oracle.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import corpus, metrics
from perfbench.trace import (
    Tracer,
    catalyst_spans,
    make_stream_listener,
    plan_layer,
    register_qe_listener,
    stage_layer,
    stream_layer,
    wrap_layers,
    wrap_session,
)
from perfbench.workloads import SF01, WORKLOADS

FLOOR_SAMPLES = 5
# Timed passes per run, at least; with the BENCHMARK.json run_seconds
# every run makes exactly this many, so runs on a faster or slower box
# measure the same executions. Queries still get faster over their
# first few executions: on a 4-core box the first timed pass is 10-25%
# slower than the later ones, and with three passes it is a third of
# the samples, not half.
MIN_PASSES = 3
# The untimed warm-up and output checks run this many queries at a
# time. Warming three at a time cuts about 8 s from each run's set-up
# against one at a time; the timed window gets that time.
POOL_THREADS = 3


def _write_json(path: str, obj) -> None:
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1, default=str)
    os.replace(tmp, path)


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:  # removed while walking
                pass
    return total / (1024 * 1024)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _source_digest(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "dpu_olap_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _cpus_env() -> dict:
    """SPARK_GRAFT_CPUS as given and as parsed; a value that is not a
    whole number (``*`` is valid for ``local[*]``) is kept as text."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    try:
        parsed: int | str | None = int(raw) if raw is not None else None
    except ValueError:
        parsed = raw
    return {"raw": raw, "parsed": parsed}


class Run:
    """State of one benchmark run: the session, the tracer and
    the per-execution records."""

    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.workload = WORKLOADS[args.workload]
        self.names = list(self.workload["queries"])
        self.artifact_path = os.path.join(
            args.work, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        )
        os.makedirs(os.path.dirname(self.artifact_path), exist_ok=True)
        self.artifact: dict = {
            "workload": args.workload,
            "queries": self.names,
            "seed": args.seed,
            "trace": args.trace,
            "seconds": args.seconds,
            "env": {
                "nproc": os.cpu_count(),
                "SPARK_GRAFT_CPUS": _cpus_env(),
                "PYSPARK_SUBMIT_ARGS": os.environ.get("PYSPARK_SUBMIT_ARGS"),
                "python": platform.python_version(),
                "git_commit": _git_commit(args.root),
                "source_digest": _source_digest(args.root),
            },
            "phases": {},
        }
        self.records: list[dict] = []
        self.last_df: dict = {}

    def save(self) -> None:
        _write_json(self.artifact_path, self.artifact)

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since launch."""
        self.artifact["phases"][phase] = time.time() - self.args.launched_at

    # -- set-up ------------------------------------------------------

    def setup(self) -> None:
        t0 = time.time()
        if self.workload["corpus"]:
            self.sf_dir, facts = corpus.materialize(
                SF01, os.path.join(self.work, "corpus"), self.args.seed
            )
            self.artifact["corpus"] = facts
        else:
            self.sf_dir = SF01
        self.gen_s = time.time() - t0
        self.mark("inputs")

        self.tracer = Tracer(bool(self.args.trace))
        if self.args.trace:
            wrap_session(self.tracer)
        from dpu_olap_spark import session
        from dpu_olap_spark.registry import all_queries

        spark = session.get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        self.spark, self.sc = spark, spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.queries = all_queries()
        self.artifact["env"].update(
            {
                "spark_version": spark.version,
                "default_parallelism": self.sc.defaultParallelism,
                "master": self.sc.master,
                "driver_memory": spark.conf.get("spark.driver.memory", None),
            }
        )
        self.mark("session")
        self.save()

        warm_dir = self.link_dir("warm")
        with ThreadPoolExecutor(POOL_THREADS) as pool:
            futs = {n: pool.submit(self.warm_one, n, warm_dir) for n in self.names}
            self.artifact["warmup_s"] = {n: f.result() for n, f in futs.items()}
        self.mark("warmed")

        self.stream = make_stream_listener()
        spark.streams.addListener(self.stream)
        if self.args.trace:
            self.qe = register_qe_listener(spark)
            self.shared = wrap_layers(self.tracer, self.next_job_id)
            self.floor = [self.floor_sample() for _ in range(FLOOR_SAMPLES)]

    def warm_one(self, name: str, warm_dir: str) -> float:
        from dpu_olap_spark.session import ensure_thread_active

        ensure_thread_active(self.spark)
        t = time.perf_counter()
        self.queries[name].build(self.spark, warm_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.perf_counter() - t

    def link_dir(self, name: str) -> str:
        """A directory of links to the sf-dir's parquet files. The warm-up
        and every timed pass read the same data through their own path:
        the engine's result caches are keyed on the sf-dir path, so no
        execution is served from a cache another one filled, while JIT,
        codegen and the page cache stay warm."""
        path = os.path.join(os.getcwd(), f"sf-{name}")
        os.makedirs(path)
        for f in os.listdir(self.sf_dir):
            if f.endswith(".parquet"):
                os.symlink(os.path.join(self.sf_dir, f), os.path.join(path, f))
        return path

    def next_job_id(self) -> int:
        return self.jsc.dagScheduler().nextJobId()

    def floor_sample(self) -> float:
        """Wall of a trivial 2-stage job: the scheduling floor every
        query pays, sampled around the window to tell box drift from
        program change."""
        t0 = time.perf_counter()
        self.spark.range(10_000).repartition(32).agg({"id": "sum"}).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.perf_counter() - t0

    # -- timed window ------------------------------------------------

    def execute(self, name: str, group: str, sf_dir: str) -> dict:
        tracer, spark = self.tracer, self.spark
        tracer.group = group
        self.sc.setJobGroup(group, group)
        j0 = self.next_job_id()
        j1 = None
        marks = (
            (len(self.qe.events), self.shared["shared_hits"]) if self.args.trace else None
        )
        n_progress = len(self.stream.progress)
        error = None
        t0 = time.perf_counter()
        try:
            with tracer.span("execution", query=name) as root:
                with tracer.span("registry.build"):
                    df = self.queries[name].build(spark, sf_dir)
                j1 = self.next_job_id()
                with tracer.span("exec") as action:
                    df.write.format("noop").mode("overwrite").save()
            self.last_df[name] = df
        except Exception as exc:  # the run records the failure and goes on
            error = f"{type(exc).__name__}: {exc}"[:500]
        wall = time.perf_counter() - t0
        j2 = self.next_job_id()
        rec = {
            "query": name,
            "group": group,
            "wall_s": wall,
            "error": error,
            "jobs": j2 - j0,
        }
        if self.args.trace and error is None:
            rec.update(self.layers(root, action, j0, j1, j2, marks, n_progress))
        return rec

    def layers(self, root, action, j0, j1, j2, marks, n_progress) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        tracer = self.tracer
        qes = [qe for _name, qe in self.qe.events[marks[0]:]]
        actions = [qe for fn, qe in self.qe.events[marks[0]:] if fn in ("overwrite", "save")]
        if actions:
            catalyst_spans(tracer, actions[-1], action["id"])
        by_name = tracer.self_by_name(root["id"])
        loads = [
            s for s in tracer.spans[root["id"]:] if s["name"] == "tables.load_table"
            and s["group"] == root["group"]
        ]
        wall = root["end"] - root["start"]
        out = {
            "tables.load_calls": len(loads),
            "tables.load_s": by_name.get("tables.load_table", 0.0),
            "tables.load_jobs": sum(s.get("jobs", 0) for s in loads),
            "registry.build_self_s": by_name.get("registry.build", 0.0),
            "registry.build_jobs": j1 - j0,
            "catalyst.analysis_ms": 1e3 * by_name.get("catalyst.analysis", 0.0),
            "catalyst.optimization_ms": 1e3 * by_name.get("catalyst.optimization", 0.0),
            "catalyst.planning_ms": 1e3 * by_name.get("catalyst.planning", 0.0),
            "exec.wall_s": action["end"] - action["start"],
            "exec.self_s": by_name.get("exec", 0.0),
            "exec.jobs": j2 - j1,
            "cache.shared_hits": self.shared["shared_hits"] - marks[1],
            "trace.unaccounted": by_name.get("execution", 0.0) / wall if wall else 0.0,
        }
        out.update(stage_layer(self.sc, range(j0, j2)))
        out.update(plan_layer(qes))
        out.update(stream_layer(self.stream.progress[n_progress:]))
        del self.qe.events[:]
        return out

    def window(self) -> None:
        self.tmp_before = _dir_mb(os.environ["TMPDIR"])
        self.t_first = time.time()
        n_progress = len(self.stream.progress)
        t0 = time.perf_counter()
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() - t0 < self.args.seconds:
            sf_dir = self.link_dir(f"pass{passes}")
            order = list(self.names)
            random.Random(f"{self.args.seed}:{passes}").shuffle(order)
            for name in order:
                group = f"{self.args.workload}/{name}/{len(self.records)}"
                self.records.append(self.execute(name, group, sf_dir))
            passes += 1
        self.passes = passes
        self.sc._jsc.clearJobGroup()
        self.jsc.listenerBus().waitUntilEmpty()
        self.window_progress = self.stream.progress[n_progress:]
        self.tmp_after = _dir_mb(os.environ["TMPDIR"])
        self.mark("window")

    # -- correctness -------------------------------------------------

    def check(self) -> dict[str, str | None]:
        """Compare each query's last timed output with its DuckDB
        oracle on the same parquet. Returns name -> error or None."""
        with ThreadPoolExecutor(POOL_THREADS) as pool:
            futs = {n: pool.submit(self.check_one, n) for n in self.names}
            out = {n: f.result() for n, f in futs.items()}
        self.mark("checked")
        return out

    def check_one(self, name: str) -> str | None:
        from dpu_olap_spark.session import ensure_thread_active
        from tests.oracle import _canon, _rows_to_multiset, run_oracle

        ensure_thread_active(self.spark)
        q = self.queries[name]
        t0 = time.perf_counter()
        try:
            df = self.last_df[name]
            try:
                rows = df.collect()
            except Exception:  # e.g. a later build dropped its sink view
                df = q.build(self.spark, self.sf_dir)
                rows = df.collect()
            t1 = time.perf_counter()
            srows, scols = _rows_to_multiset([tuple(r) for r in rows], df.columns, _canon)
            orows, ocols = _rows_to_multiset(*run_oracle(q.oracle, self.sf_dir), _canon)
            self.artifact.setdefault("check_s", {})[name] = {
                "spark": t1 - t0, "oracle": time.perf_counter() - t1
            }
        except Exception as exc:  # counted as a failed check
            return f"{type(exc).__name__}: {exc}"[:500]
        if [c.lower() for c in scols] != [c.lower() for c in ocols]:
            return f"columns differ: {scols} vs {ocols}"
        if srows != orows:
            return f"rows differ: {len(srows)} vs {len(orows)} rows"
        return None

    # -- metrics -----------------------------------------------------

    def summarize(self) -> dict:
        ok = [r for r in self.records if r["error"] is None]
        walls = [r["wall_s"] for r in ok]
        timed = sum(walls)
        n = len(walls)
        jvm_pid = self.sc._gateway.proc.pid
        rss_mb = (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024
        e2e = {
            "setup_s": self.t_first - self.args.launched_at - self.gen_s,
            "queries_per_s": n / timed if timed else 0.0,
            "latency_geomean_s": metrics.geomean(walls),
        }
        report = {
            "latency_p50_s": statistics.median(walls) if walls else 0.0,
            "peak_rss_mb": rss_mb,
            "executions": len(self.records),
            "passes": self.passes,
            "timed_wall_s": timed,
            "input_gen_s": self.gen_s,
        }
        q = metrics.highest_reportable_percentile(n)
        if q is not None and q > 50:
            report[f"latency_p{q}_s"] = metrics.percentile(walls, q)
        if self.workload["corpus"]:
            docs = self.artifact["corpus"]["docs"]
            report["docs_per_s"] = docs * (n / len(self.names)) / timed if timed else 0.0
        events = sum(p.numInputRows for p in self.window_progress)
        if events:
            report["events_per_s"] = events / timed
        return {"end_to_end": e2e, "report": report}

    def per_layer(self, e2e: dict) -> dict:
        ok = [r for r in self.records if r["error"] is None]
        out: dict[str, float] = {}
        for name in metrics.PER_LAYER:
            vals = [r[name] for r in ok if name in r]
            if vals:
                out[name] = sum(vals) / len(ok)
        spans = {s["name"]: s for s in self.tracer.spans if s["group"] is None}
        gs, tune = spans.get("session.get_spark"), spans.get("session.tune")
        out["session.tune_s"] = tune["end"] - tune["start"] if tune else 0.0
        out["session.get_spark_s"] = (
            gs["end"] - gs["start"] - out["session.tune_s"] if gs else 0.0
        )
        tasks = sum(r.get("exec.tasks", 0) for r in ok)
        out["exec.failed_task_ratio"] = (
            sum(r.get("exec.failed_tasks", 0) for r in ok) / tasks if tasks else 0.0
        )
        out["exec.floor_s"] = statistics.median(self.floor)
        first_jobs: dict[str, int] = {}
        served = 0
        for r in ok:
            first = first_jobs.setdefault(r["query"], r["jobs"])
            served += r["jobs"] < first or r.get("cache.shared_hits", 0) > 0
        out["cache.served_executions"] = served
        out["cache.shared_hits"] = sum(r.get("cache.shared_hits", 0) for r in ok)
        infos = self.jsc.getRDDStorageInfo()
        out["cache.persisted_rdds"] = len(infos)
        out["cache.persisted_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / (1024 * 1024)
        out["sinks.tmp_growth_mb"] = self.tmp_after - self.tmp_before
        out["trace.executions"] = len(ok)
        out["trace.latency_geomean_s"] = e2e["latency_geomean_s"]
        out["trace.unaccounted_max"] = max((r["trace.unaccounted"] for r in ok), default=0.0)
        out["trace.overhead_ratio"] = self.overhead_ratio(e2e["queries_per_s"])
        return {k: out.get(k, 0.0) for k in metrics.PER_LAYER}

    def overhead_ratio(self, traced_qps: float) -> float:
        """Untraced over traced ``queries_per_s``, against the untraced
        runs of the same workload and source recorded in this checkout;
        0 when there are none yet."""
        runs = os.path.dirname(self.artifact_path)
        qps = []
        for f in os.listdir(runs):
            if not (f.startswith(f"{self.args.workload}-seed") and f.endswith("-trace0.json")):
                continue
            try:
                with open(os.path.join(runs, f)) as fh:
                    other = json.load(fh)
                if (
                    other["queries"] == self.names
                    and other["env"]["source_digest"] == self.artifact["env"]["source_digest"]
                ):
                    qps.append(other["end_to_end"]["queries_per_s"])
            except (OSError, ValueError, KeyError):
                continue
        return statistics.median(qps) / traced_qps if qps and traced_qps else 0.0


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--launched-at", type=float, required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--root", required=True)
    p.add_argument("--work", required=True)
    args = p.parse_args()

    run = Run(args)
    run.setup()
    run.window()
    summary = run.summarize()
    run.artifact.update(summary)
    if args.trace:
        run.floor += [run.floor_sample() for _ in range(FLOOR_SAMPLES)]
        run.artifact["per_layer"] = run.per_layer(summary["end_to_end"])
    run.artifact["executions"] = run.records
    run.save()

    checks = run.check()
    failed_exec = sum(r["error"] is not None for r in run.records)
    failed_checks = sum(v is not None for v in checks.values())
    attempted = len(run.records) + len(checks)
    failed = failed_exec + failed_checks
    summary["report"]["failed_ratio"] = failed / attempted
    run.artifact["checks"] = checks
    run.artifact["report"] = summary["report"]
    run.save()
    if args.trace:
        _write_json(run.artifact_path.replace(".json", ".spans.json"), run.tracer.spans)

    units = {**metrics.END_TO_END, **metrics.PER_LAYER}
    shown = run.artifact["per_layer"] if args.trace else summary["end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
        "report": {**summary["end_to_end"], **summary["report"]},
        "checks": checks,
    }
    _write_json(args.result, result)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # run.py stops the Spark JVM and its workers with the process group
    os._exit(code)
