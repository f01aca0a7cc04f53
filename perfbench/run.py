#!/usr/bin/env python3
"""Closed-loop benchmark of crossfire_spark, end to end and layer by layer.

One client issues queries one after another into a ``local[nproc]``
session built by ``crossfire_spark.get_spark`` with the program's own
defaults. Each query is built through ``registry.all_queries()[name]`` and
executed to the ``noop`` sink. A run is: set-up, one cold pass, the
workload's untimed warm-up passes, a fixed number of timed warm passes
(the seed permutes the query order of each pass), then one untimed output
check of every query.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` makes an
untraced run of the same workload and seed in a child process, then a
traced run with Spark's event log and a ``StreamingQueryListener``, and
prints the per-layer metrics.
The last line of standard output is one JSON object; the full record
(provenance, per-query table, failures) and the spans go to ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import itertools
import json
import os
import platform
import random
import statistics
import subprocess
import sys
import time
import uuid
from dataclasses import dataclass
from pathlib import Path

import procfs
import tracing
from check import Checker
from stats import tail

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench"
DATA = "perfbench/data/sf0.01"


@dataclass(frozen=True)
class Workload:
    name: str
    data_dir: str
    queries: tuple[str, ...]
    # Timed warm passes per 10 s of --seconds, at least one in a run, so
    # every run of a workload has the same samples. relational's passes take
    # 2 to 4 s on a 4-core host; it times 8 so that its pass_s median is
    # steadier and its 40 query executions leave 10 beyond a tail rank
    # well above the median. pipeline's pass takes 7 to 10 s on a quiet
    # host; it times 2, as many as its run length allows.
    passes_per_10s: int
    # Untimed passes between the cold pass and the timed ones, while the JIT
    # is still compiling. relational's pass time keeps falling for about
    # four passes after the cold one, more slowly when the host is busy.
    # pipeline's first pass after the cold one is about a tenth slower than
    # the next, but over twenty runs the median of both spread its pass_s
    # by two thirds of what timing the second pass alone did, so it has none.
    warmup_passes: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational",
            DATA,
            ("q01", "q05", "q11", "q28", "p04_verify_fast"),
            8,
            3,
        ),
        Workload(
            "pipeline",
            DATA,
            ("d06_dup_clusters", "s06_ivf_index", "st04_stateful_totals"),
            2,
            0,
        ),
    )
}

# Module prefix of a query builder -> the layer it is reported under.
LAYERS = (
    ("crossfire_spark.operators", "operators"),
    ("crossfire_spark.placement", "placement"),
    ("crossfire_spark.functions.dedup", "dedup"),
    ("crossfire_spark.functions.similarity", "similarity"),
    ("crossfire_spark.functions.ann_index", "similarity"),
    ("crossfire_spark.streaming", "streaming"),
)
QUERY_LAYERS = tuple(dict.fromkeys(layer for _, layer in LAYERS))
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
}
# Printed and recorded, but not bounded: error_rate is 0 on correct code,
# and the tree's peak RSS follows the JVM heap, which grows by as much as 2x
# between identical runs on a contended host.
UNBOUNDED = {"peak_rss_mb": "MiB", "error_rate": "ratio"}
_LAYER_UNITS = {
    "calls": "count",
    "build_s": "s",
    "sink_s": "s",
    "jobs": "count",
    "eager_jobs": "count",
    "tasks": "count",
    "task_cpu_s": "s",
    "gc_s": "s",
    "python_worker_s": "s",
    "input_bytes": "B",
    "shuffle_write_bytes": "B",
    "shuffle_read_bytes": "B",
    "spill_bytes": "B",
    "failed_tasks": "count",
    "driver_self_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s",
    **{f"{m}.{k}": u for m in QUERY_LAYERS for k, u in _LAYER_UNITS.items()},
    "streaming.batches": "count",
    "streaming.planning_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "trace.unattributed_jobs": "count",
    "trace.overhead_frac": "ratio",
}


def layer_of(builder) -> str:
    module = builder.__module__
    for prefix, layer in LAYERS:
        if module.startswith(prefix):
            return layer
    raise ValueError(f"no layer for module {module}")


def warm_passes(workload: Workload, seconds: float) -> int:
    return max(1, round(workload.passes_per_10s * seconds / 10))


def prepare_environment(trace: bool, run_dir: Path | None = None) -> dict[str, str]:
    """Point every scratch location of the engine inside the checkout, and
    return the extra session conf of a traced run."""
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    work = OUT / "work"
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local", work / "warehouse"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["TMPDIR"] = str(tmp)
    # JVM temp files (memory-sink checkpoints) and no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the oracle and collect() both render timestamps in the process zone
    os.environ["TZ"] = "UTC"
    time.tzset()
    if not trace:
        return {}
    log_dir = run_dir / "eventlog"
    log_dir.mkdir(parents=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
    }


def provenance(seed: int) -> dict:
    digest = hashlib.sha256()
    for path in sorted(glob.glob(str(ROOT / "crossfire_spark" / "**" / "*.py"), recursive=True)):
        digest.update(Path(path).read_bytes())
    commit = None
    if (ROOT / ".git").exists():
        res = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True
        )
        commit = res.stdout.strip() or None
    return {
        "seed": seed,
        "git_commit": commit,
        "source_sha256": digest.hexdigest(),
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_bytes": procfs.mem_total_bytes(),
        "python": platform.python_version(),
    }


class Run:
    """One closed-loop run of one workload in a fresh engine."""

    def __init__(self, workload: Workload, seed: int, seconds: float, traced: bool) -> None:
        self.workload = workload
        self.data_dir = str(ROOT / workload.data_dir)
        self.seed = seed
        self.passes = warm_passes(workload, seconds)
        self.traced = traced
        self.run_id = f"{workload.name}-s{seed}-t{int(traced)}-{uuid.uuid4().hex[:8]}"
        self.dir = OUT / "runs" / self.run_id
        self.dir.mkdir(parents=True)
        self.spans = tracing.Spans(self.run_id)
        self.failures: list[dict] = []
        self.attempted = 0
        self.pass_cpu: list[float] = []

    def call(self, phase: str, name: str, parent: int, attrs: dict, fn) -> tuple[bool, object]:
        """Time ``fn()`` as one call span; a raise is recorded as a failure."""
        sc = self.spark.sparkContext
        with self.spans.span(name, phase, parent, **attrs, phase=phase) as span:
            if self.traced:
                # a job group, not a job tag: streams inherit the caller's
                # tags, and PySpark's listener fails to convert a
                # QueryStartedEvent that carries tags
                sc.setJobGroup(tracing.call_group(span.id), name)
            try:
                return True, fn()
            except Exception as exc:  # noqa: BLE001 - one failed query must not end the run
                self.failures.append({"query": name, "phase": phase, "error": repr(exc)[:500]})
                return False, None
            finally:
                if self.traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def one_pass(self, index: int, run_span: int) -> dict:
        """Build and sink every query once; return the built DataFrames."""
        order = list(self.workload.queries)
        self.rng.shuffle(order)
        warmup = index <= self.workload.warmup_passes
        kind = "cold" if index == 0 else "warmup" if warmup else "warm"
        frames = {}
        cpu0 = self.engine_cpu_seconds()
        with self.spans.span(f"pass{index}", "pass", run_span, pass_kind=kind) as p:
            for name in order:
                builder = self.queries[name]
                attrs = {"query": name, "module": layer_of(builder), "pass_kind": kind}
                self.attempted += 1
                with self.spans.span(name, "query", p.id, **attrs) as q:
                    ok, df = self.call(
                        "build", name, q.id, attrs, lambda: builder(self.spark, self.data_dir)
                    )
                    if ok:
                        sink = df.write.format("noop").mode("overwrite")
                        ok, _ = self.call("sink", name, q.id, attrs, sink.save)
                    if ok:
                        frames[name] = df
        if kind == "warm":
            self.pass_cpu.append(self.engine_cpu_seconds() - cpu0)
        return frames

    def engine_cpu_seconds(self) -> float:
        """CPU seconds of the process tree, less the RSS sampler's own."""
        return procfs.tree_cpu_seconds(os.getpid()) - self.rss.cpu_seconds()

    def failed(self, name: str) -> bool:
        return any(f["query"] == name for f in self.failures)

    def check(self, frames: dict, run_span: int) -> dict[str, dict]:
        """Collect each DataFrame of the last pass and check its rows."""
        checker = Checker(self.data_dir, self.oracles)
        table = {}
        try:
            for name, df in frames.items():
                attrs = {"query": name, "module": layer_of(self.queries[name]), "pass_kind": "check"}
                self.attempted += 1

                def collect_and_check():
                    rows = [tuple(r) for r in df.collect()]
                    return len(rows), checker.check(name, df.columns, rows)

                ok, out = self.call("check", name, run_span, attrs, collect_and_check)
                if not ok:
                    continue
                n_rows, (match, reason) = out
                table[name] = {"rows": n_rows, "check": reason}
                if not match:
                    self.failures.append({"query": name, "phase": "check", "error": reason})
        finally:
            checker.close()
        return table

    def execute(self, setup_offset_s: float = 0.0) -> dict:
        pid = os.getpid()
        load_before = procfs.loadavg()
        steal_before = procfs.cpu_steal_seconds()
        extra_conf = prepare_environment(self.traced, self.dir)
        with procfs.RssSampler(pid) as self.rss:
            t0 = time.perf_counter()
            from crossfire_spark.registry import all_oracle_sql, all_queries

            self.queries, self.oracles = all_queries(), all_oracle_sql()
            t1 = time.perf_counter()
            from crossfire_spark import get_spark

            self.spark = get_spark(extra_conf=extra_conf or None)
            t2 = time.perf_counter()
            setup_s = procfs.seconds_since_start(pid) - setup_offset_s
            self.spark.sparkContext.setLogLevel("ERROR")
            recorder = None
            if self.traced:
                recorder = tracing.StreamRecorder()
                self.spark.streams.addListener(recorder.listener())
            self.rng = random.Random(self.seed)
            with self.spans.span(self.run_id, "run") as run_span:
                for index in range(1 + self.workload.warmup_passes + self.passes):
                    frames = self.one_pass(index, run_span.id)
                table = self.check(frames, run_span.id)
            versions = {
                "spark": self.spark.version,
                "java": self.spark.sparkContext._jvm.System.getProperty("java.version"),
            }
            if recorder is not None:
                recorder.wait_settled()
            self.stop_engine()
        result = {
            "workload": self.workload.name,
            "run_id": self.run_id,
            "traced": self.traced,
            "warm_passes": self.passes,
            "provenance": {
                **provenance(self.seed),
                **versions,
                "loadavg_before": load_before,
                "loadavg_after": procfs.loadavg(),
                "cpu_steal_s": procfs.cpu_steal_seconds() - steal_before,
            },
            "setup": {"setup_s": setup_s, "registry.import_s": t1 - t0, "session.start_s": t2 - t1},
            "attempted": self.attempted,
            "failures": self.failures,
        }
        result.update(self.summarize(self.rss.peak_bytes, table))
        if self.traced:
            result["layers"] = self.layers(recorder)
        (self.dir / "spans.json").write_text(json.dumps(self.spans.to_json()))
        return result

    def stop_engine(self) -> None:
        """Stop the session, the JVM and the Python workers, and wait for them."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        procfs.wait_for_descendants(os.getpid())

    def summarize(self, peak_rss_bytes: int, table: dict) -> dict:
        passes = self.spans.of_kind("pass")
        warm_passes = [p for p in passes if p.attrs["pass_kind"] == "warm"]
        warm = [q for q in self.spans.of_kind("query") if q.attrs["pass_kind"] == "warm"]
        latencies = [q.duration for q in warm if not self.failed(q.name)]
        # every query failing leaves no latency; the run is then incorrect
        tail_s, tail_pct, n = tail(latencies) if latencies else (0.0, 0.0, 0)
        calls = [c for c in self.spans.of_kind("build", "sink") if c.attrs["pass_kind"] == "warm"]
        for name in self.workload.queries:
            row = table.setdefault(name, {})
            row["module"] = layer_of(self.queries[name])
            for phase in ("build", "sink"):
                times = [c.duration for c in calls if c.name == name and c.kind == phase]
                row[f"{phase}_s"] = statistics.median(times) if times else None
        return {
            "metrics": {
                "cold_pass_s": passes[0].duration,
                "pass_s": statistics.median(p.duration for p in warm_passes),
                "pass_cpu_s": statistics.median(self.pass_cpu),
                "query_p50_s": statistics.median(latencies) if latencies else 0.0,
                "query_tail_s": tail_s,
                "peak_rss_mb": peak_rss_bytes / 2**20,
                "error_rate": len(self.failures) / self.attempted,
            },
            "query_tail": {"percentile": tail_pct, "samples": n},
            "queries": table,
        }

    def layers(self, recorder: tracing.StreamRecorder) -> dict[str, float]:
        """Per-layer metrics of the warm passes, from the spans, the event
        log and the streaming listener."""
        # a rolling log: events_<n>_<app id> files in one directory
        paths = sorted(
            (self.dir / "eventlog").glob("*/events_*"), key=lambda p: int(p.name.split("_")[1])
        )
        with contextlib.ExitStack() as stack:
            files = [stack.enter_context(open(p)) for p in paths]
            jobs, job_tasks = tracing.parse_event_log(itertools.chain.from_iterable(files))
        calls = self.spans.of_kind("build", "sink", "check")
        owner = tracing.attribute_jobs(jobs, calls)
        for job in jobs.values():
            self.spans.add(f"job{job.id}", "job", job.submit, job.end, owner[job.id])
        for b in recorder.batches:
            parent = tracing.call_at(b["start"], calls)
            self.spans.add(f"{b['name']}#{b['batch_id']}", "batch", b["start"], b["end"], parent)
        warm_calls = [c for c in calls if c.attrs["pass_kind"] == "warm"]
        out = dict.fromkeys(PER_LAYER, 0.0)
        out.update(tracing.layer_metrics(jobs, job_tasks, warm_calls, self.passes))
        for c in warm_calls:
            out[f"{c.attrs['module']}.{c.kind}_s"] += c.duration / self.passes
            if c.kind == "build":
                out[f"{c.attrs['module']}.calls"] += 1 / self.passes
        windows = [
            (p.start, p.end) for p in self.spans.of_kind("pass") if p.attrs["pass_kind"] == "warm"
        ]
        out.update(tracing.streaming_metrics(recorder.batches, windows))
        out["trace.unattributed_jobs"] = float(sum(o is None for o in owner.values()))
        return out


def emit(result: dict, metrics: dict[str, tuple[float, str]]) -> None:
    failed = len(result["failures"])
    print(f"# {result['workload']}: seed {result['provenance']['seed']}, "
          f"{result['warm_passes']} warm passes, record .perfbench/runs/{result['run_id']}/result.json")
    for f in result["failures"]:
        print(f"# FAILED {f['query']} in {f['phase']}: {f['error']}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    for name, unit in UNBOUNDED.items():
        print(f"{name} {result['metrics'][name]:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def run_one(workload: Workload, seed: int, seconds: float, traced: bool) -> dict:
    untraced = None
    offset = 0.0
    if traced:
        t = time.perf_counter()
        untraced = child_result(workload.name, seed, seconds)
        offset = time.perf_counter() - t
    result = Run(workload, seed, seconds, traced).execute(setup_offset_s=offset)
    result["metrics"]["setup_s"] = result["setup"]["setup_s"]
    if traced:
        layers = result["layers"]
        layers["session.start_s"] = result["setup"]["session.start_s"]
        layers["registry.import_s"] = result["setup"]["registry.import_s"]
        layers["trace.overhead_frac"] = result["metrics"]["pass_s"] / untraced["pass_s"]["value"] - 1
        result["untraced_metrics"] = untraced
    (OUT / "runs" / result["run_id"] / "result.json").write_text(json.dumps(result, indent=1))
    return result


def child_result(workload: str, seed: int, seconds: float) -> dict:
    """Metrics of an untraced run of the same workload in a fresh process."""
    cmd = [sys.executable, __file__, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=150)
    sys.stderr.write(res.stdout)
    if res.returncode != 0:
        raise RuntimeError(f"untraced run of {workload} exited with {res.returncode}")
    last = json.loads(res.stdout.strip().splitlines()[-1])
    if not last["correct"]:
        raise RuntimeError(f"untraced run of {workload} failed its output check")
    return last["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    os.chdir(ROOT)
    if args.workload == "all":
        return run_all(args)
    result = run_one(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    if args.trace:
        emit(result, {k: (result["layers"][k], u) for k, u in PER_LAYER.items()})
    else:
        emit(result, {k: (result["metrics"][k], u) for k, u in END_TO_END.items()})
    return 0


def run_all(args) -> int:
    """Every workload, each in its own process, one after another."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = res.stdout.strip().splitlines()
        if res.returncode != 0 or not lines:
            sys.stdout.write(res.stdout)
            return res.returncode or 1
        print("\n".join(lines[:-1]))
        last = json.loads(lines[-1])
        total["correct"] &= last["correct"]
        total["attempted"] += last["attempted"]
        total["failed"] += last["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in last["metrics"].items()})
    print(json.dumps(total))
    return 0


if __name__ == "__main__":
    sys.exit(main())
