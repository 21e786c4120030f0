"""End-to-end benchmark of the desdb_spark engine.

Usage, from the root of a checkout::

    python3 loopbench/run.py --workload sql_requests --seed 1 --seconds 10 --trace 0

Workloads (one client, closed loop: the next call goes out only after the
previous result has arrived):

- ``sql_requests``: parameterized SQL through one ``Connection`` over sf0.1
  tables (``quick``, ``quick_numpy``, ``quickWrite``);
- ``op_build``: registered operators whose ``fn()`` launches Spark jobs
  itself, at sf0.01, each pass on a fresh copy of the inputs.

Each run generates its input tables, starts the engine in a fresh worker
process (``worker.py``) with the engine's own ``get_spark`` defaults on
``local[<cpus>]``, and keeps every file it writes in a scratch directory
under the checkout, which it removes at the end. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are per-layer self times and counts taken from spans around the calls
into each layer, and the spans are written to ``.loopbench-out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import defaultdict

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from loopbench import datagen, stats, workloads  # noqa: E402

#: Environment that would change how the engine runs; the worker gets none.
ENGINE_KNOBS = ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS", "SPARK_GRAFT_SF_DIR")
WORKER_TIMEOUT_S = 160  # the whole run must end within 180 s
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20

#: Per-layer metrics: self time of each span name, in seconds.
LAYER_SPANS = {
    "api.query_s": "api.query",
    "api.convert_s": "api.request",
    "spark.plan_s": "spark.plan",
    "spark.exec_s": "spark.exec",
    "ops.build_s": "ops.build",
}
COUNT_METRICS = {
    "ops.build_jobs": ("ops.build", "jobs"),
    "ops.build_stages": ("ops.build", "stages"),
    "spark.exec_jobs": ("spark.exec", "jobs"),
    "spark.exec_stages": ("spark.exec", "stages"),
    "spark.exec_tasks": ("spark.exec", "tasks"),
    "spark.failed_tasks": ("spark.exec", "failed_tasks"),
}
SETUP_SPANS = (
    "session.get_spark",
    "session.load_tables",
    "session.first_action",
    "registry.all_operators",
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in reporting order."""
    names = [(f"{s}_s", "s") for s in SETUP_SPANS] + [("session.peak_rss_mb", "MB")]
    names += [(m, "s") for m in LAYER_SPANS]
    names += [(m, "count") for m in COUNT_METRICS]
    for op in workloads.BUILD_OPS:
        names += [(f"ops.build_s.{op}", "s"), (f"ops.build_jobs.{op}", "count")]
        names += [(f"spark.exec_s.{op}", "s")]
    names += [
        ("api.result_rows", "count"),
        ("api.result_mb", "MB"),
        ("sources.lake_bytes_written", "bytes"),
        ("sources.lake_files_written", "count"),
        ("trace.overhead_s", "s"),
    ]
    return names


# -- process tree --------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(entry))
    return kids


def _tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE_MB
    except OSError:
        return 0.0


class TreeWatch(threading.Thread):
    """Samples the summed resident memory of a process and its descendants
    (the Python driver, the JVM and Spark's Python workers), and remembers
    every descendant so none outlives the run."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid, self.peak_mb, self.seen = pid, 0.0, set()
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.is_set():
            pids = _tree(self.pid)
            self.seen.update(pids)
            self.peak_mb = max(self.peak_mb, sum(_rss_mb(p) for p in pids))
            self.done.wait(0.1)

    def reap(self) -> None:
        """Stop sampling; kill and wait out any descendant still alive."""
        self.done.set()
        self.join()
        left = [p for p in self.seen if p != self.pid and os.path.exists(f"/proc/{p}")]
        for p in left:
            try:
                os.kill(p, 9)
            except OSError:
                pass
        deadline = time.monotonic() + 10
        while left and time.monotonic() < deadline:
            left = [p for p in left if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)


# -- summary -------------------------------------------------------------


def _ok_calls(p: dict) -> list[dict]:
    return [c for c in p["calls"] if c.get("ok")]


def _typical(passes: list[dict], value=lambda c: c["latency_s"]) -> float:
    return stats.typical_pass([[(c["key"], value(c)) for c in _ok_calls(p)] for p in passes])


def _call_seconds(passes: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = defaultdict(list)
    for p in passes:
        for c in _ok_calls(p):
            out[c["key"]].append(round(c["latency_s"], 4))
    return dict(out)


def end_to_end(raw: dict, workload: str, spawn: float) -> tuple[dict, dict]:
    passes = raw["passes"]
    wall = _typical(passes)
    if workload == "sql_requests":
        samples, unit = [c["latency_s"] for p in passes for c in _ok_calls(p)], "request"
    else:
        samples, unit = [p["wall_s"] for p in passes], "pass"
    lat = stats.latency_summary(samples)
    metrics = {
        "setup_s": stats.metric(raw["setup"]["ready_monotonic"] - spawn, "s"),
        "wall_s": stats.metric(wall, "s"),
        "latency_p50_s": stats.metric(lat["p50"], "s"),
        "latency_tail_s": stats.metric(lat["tail"], "s"),
    }
    info = {
        "latency_per": unit,
        "latency_tail_pct": round(lat["tail_pct"], 2),
        "latency_n": lat["n"],
        "latency_tail_beyond": lat["tail_beyond"],
    }
    return metrics, info


def per_layer(raw: dict, peak_mb: float) -> tuple[dict, dict]:
    spans = raw["spans"]
    by_call: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["call"] is not None:
            by_call[s["call"]].append(s)

    def layer(call: dict, name: str, field: str = "self_s") -> float:
        return sum(
            (s["self_s"] if field == "self_s" else s["counts"].get(field, 0))
            for s in by_call[call["call"]]
            if s["name"] == name
        )

    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]

    def typical(value) -> float:
        return _typical(traced, value)

    def per_op(op: str, value) -> float:
        vals = [value(c) for p in traced for c in _ok_calls(p) if c["key"] == op]
        return statistics.median(vals) if vals else 0.0

    out = {f"{s}_s": raw["setup"][f"{s}_s"] for s in SETUP_SPANS}
    out["session.peak_rss_mb"] = peak_mb
    for metric, span in LAYER_SPANS.items():
        out[metric] = typical(lambda c, span=span: layer(c, span))
    for metric, (span, field) in COUNT_METRICS.items():
        out[metric] = typical(lambda c, span=span, field=field: layer(c, span, field))
    for op in workloads.BUILD_OPS:
        out[f"ops.build_s.{op}"] = per_op(op, lambda c: layer(c, "ops.build"))
        out[f"ops.build_jobs.{op}"] = per_op(op, lambda c: layer(c, "ops.build", "jobs"))
        out[f"spark.exec_s.{op}"] = per_op(op, lambda c: layer(c, "spark.exec"))
    out["api.result_rows"] = typical(lambda c: c.get("rows", 0))
    out["api.result_mb"] = typical(lambda c: c.get("bytes", 0) / 2**20)
    out["sources.lake_bytes_written"] = typical(lambda c: c.get("lake_bytes", 0))
    out["sources.lake_files_written"] = typical(lambda c: c.get("lake_files", 0))
    untraced_wall, traced_wall = _typical(plain), _typical(traced)
    out["trace.overhead_s"] = traced_wall - untraced_wall
    units = dict(per_layer_names())
    metrics = {name: stats.metric(out[name], units[name]) for name, _ in per_layer_names()}
    self_s = defaultdict(float)
    for s in spans:
        if s["call"] is not None:
            self_s[s["name"]] += s["self_s"] / max(1, len(traced))
    info = {
        "traced_passes": len(traced),
        "traced_wall_s": traced_wall,
        "untraced_wall_s": untraced_wall,
        "layer_self_s_per_pass": dict(sorted(self_s.items(), key=lambda kv: -kv[1])),
    }
    return metrics, info


# -- run -----------------------------------------------------------------


def worker_env(scratch: str) -> dict:
    env = {
        k: v for k, v in os.environ.items() if k not in ENGINE_KNOBS and not k.startswith("DESDB_")
    }
    tmp, local = os.path.join(scratch, "tmp"), os.path.join(scratch, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    # The driver JVM's temp files (per-session artifact dirs, extracted native
    # libraries) go to the scratch dir too; java.io.tmpdir is a location, not
    # a tuning flag.
    submit_opts = f"{env.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp}".strip()
    env.update(
        TMPDIR=tmp,
        SPARK_SUBMIT_OPTS=submit_opts,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def run(args) -> int:
    scratch = os.path.join(ROOT, f".loopbench-run-{os.getpid()}")
    os.makedirs(scratch)
    try:
        data = datagen.write(workloads.SCALE[args.workload], os.path.join(scratch, "data", "base"))
        work = os.path.join(scratch, "work")
        os.makedirs(work)
        env = worker_env(scratch)
        out_path = os.path.join(scratch, "result.json")
        log_path = os.path.join(scratch, "worker.log")
        cmd = [
            sys.executable,
            os.path.join(HERE, "worker.py"),
            args.workload,
            str(args.seed),
            str(args.seconds),
            str(args.trace),
            data,
            out_path,
        ]
        with open(log_path, "w") as log:
            spawn = time.monotonic()
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log)
            watch = TreeWatch(proc.pid)
            watch.start()
            try:
                code = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
                watch.reap()
        if code != 0 or not os.path.exists(out_path):
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            print(f"loopbench: worker exited with code {code}", file=sys.stderr)
            return 1
        with open(out_path) as fh:
            raw = json.load(fh)
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".loopbench-out"), exist_ok=True)
            spans_path = os.path.join(
                ROOT, ".loopbench-out", f"spans-{args.workload}-seed{args.seed}.json"
            )
            with open(spans_path, "w") as fh:
                json.dump(raw["spans"], fh)
            metrics, info = per_layer(raw, watch.peak_mb)
        else:
            metrics, info = end_to_end(raw, args.workload, spawn)
        calls = [c for p in raw["passes"] for c in p["calls"]]
        failed = sum(1 for c in calls if not c.get("ok"))
        errors = [c["error"] for c in calls if "error" in c] + raw["warmup_errors"]
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cpus": env["SPARK_GRAFT_CPUS"],
            "floor_before_s": raw["floor_before_s"],
            "floor_after_s": raw["floor_after_s"],
            "steal_frac": raw["steal_frac"],
            "warmup_wall_s": raw["warmup_wall_s"],
            "measured_passes": len(raw["passes"]),
            "measured_s": raw["measured_s"],
            "check_s": raw["check_s"],
            "call_s": _call_seconds(raw["passes"]),
            **info,
            "errors": [e[-500:] for e in errors[:3]],
        }
        print(json.dumps(info))
        print(stats.result_line(not errors, len(calls), failed, metrics))
        return 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)  # unwinds through run()'s cleanup


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "desdb_spark", "api.py")):
        print(f"loopbench: no desdb_spark engine under {ROOT}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
