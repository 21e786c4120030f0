"""One benchmark run inside a fresh process: set up the engine the way users
do, warm up, run measured passes of one workload in a closed loop with one
client, then check every measured result and write the raw figures as JSON.

Started by ``run.py``, which owns the scratch directory, the environment and
the summary. Usage: ``worker.py WORKLOAD SEED SECONDS TRACE DATA_DIR OUT``.
"""

from __future__ import annotations

import io
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

from loopbench import datagen, workloads
from loopbench.trace import Tracer

#: Untimed warm-up passes before measuring. Pass time keeps falling for
#: several passes while the JVM compiles the engine's hot paths, and a stop
#: rule that reacts to noise leaves some runs warmer than others, so the
#: count is fixed: twelve sql_requests passes run each template twelve times.
#: One op_build pass takes about 25 s cold, so it gets a single warm-up pass.
WARMUP_PASSES = {"sql_requests": 12, "op_build": 1}


def floor_s(spark) -> float:
    """Median time of the engine's smallest action: machine state."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        spark.range(1).count()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def cpu_ticks() -> list[int]:
    """System-wide CPU time counters (user ... steal) from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def lake_files(tmp: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file in the engine's lake staging dirs."""
    files = {}
    for d in os.listdir(tmp):
        if not d.startswith("desdb_stage_"):
            continue
        for dirpath, _, names in os.walk(os.path.join(tmp, d)):
            for n in names:
                p = os.path.join(dirpath, n)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                files[p] = (st.st_size, st.st_mtime_ns)
    return files


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, data: str):
        self.workload, self.seconds, self.trace, self.data = workload, seconds, trace, data
        self.rng = random.Random(seed)
        self.tracer = Tracer()
        self.calls = 0
        self.tmp = os.environ.get("TMPDIR", "/tmp")

    # -- setup -------------------------------------------------------------

    def setup(self) -> dict:
        tr = self.tracer
        with tr.span("session.get_spark"):
            from desdb_spark.session import get_spark, load_tables

            self.spark = get_spark()
        with tr.span("registry.all_operators"):
            from desdb_spark.registry import all_operators

            self.ops = all_operators()
        with tr.span("session.load_tables"):
            if self.workload == "sql_requests":
                from desdb_spark.api import Connection

                self.conn = Connection(self.data, self.spark)
            else:
                load_tables(self.spark, self.data)
        with tr.span("session.first_action"):
            self.spark.range(1).count()
        ready = time.monotonic()
        self.tracer.sc = self.spark.sparkContext
        out = {f"{s.name}_s": s.seconds for s in tr.spans}
        out["ready_monotonic"] = ready
        return out

    # -- one call ----------------------------------------------------------

    def _traced_query(self, orig):
        tr = self.tracer

        def query(sql):
            with tr.span("api.query", jobs=True):
                df = orig(sql)
            with tr.span("spark.plan", jobs=True):
                df._jdf.queryExecution().executedPlan()
            for name in ("collect", "toPandas"):
                setattr(df, name, self._traced_exec(getattr(df, name)))
            to_iter = df.toLocalIterator

            def local_iterator(*a, **k):
                with tr.span("spark.exec", jobs=True):
                    yield from to_iter(*a, **k)

            df.toLocalIterator = local_iterator
            return df

        return query

    def _traced_exec(self, fn):
        def wrapped(*a, **k):
            with self.tracer.span("spark.exec", jobs=True):
                return fn(*a, **k)

        return wrapped

    def sql_call(self, req: workloads.Request, traced: bool) -> dict:
        rec = {"key": req.key, "call": self.calls, "request": req.__dict__}
        conn = self.conn
        if traced:
            conn.query = self._traced_query(type(conn).query.__get__(conn))
        try:
            t0 = time.perf_counter()
            span = self.tracer.span("api.request", call=self.calls) if traced else nullcontext()
            with span:
                if req.method == "quickWrite":
                    buf = io.StringIO()
                    n = conn.quickWrite(req.sql, fmt="csv", out=buf)
                    result = (n, buf.getvalue())
                else:
                    result = getattr(conn, req.method)(req.sql)
            rec["latency_s"] = time.perf_counter() - t0
            rec["result"] = result
        except Exception:  # noqa: BLE001 - a failed request is counted, not fatal
            rec["error"] = traceback.format_exc(limit=3)
        finally:
            if traced:
                del conn.query
        self.calls += 1
        return rec

    def op_call(self, name: str, data: str, traced: bool) -> dict:
        rec = {"key": name, "call": self.calls}
        op = self.ops[name]
        before = lake_files(self.tmp) if traced else None
        tr = self.tracer
        try:
            t0 = time.perf_counter()
            if traced:
                with tr.span("ops.call", call=self.calls):
                    with tr.span("ops.build", jobs=True):
                        df = op.fn(self.spark, data)
                    with tr.span("spark.plan", jobs=True):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("spark.exec", jobs=True):
                        pdf = df.toPandas()
            else:
                pdf = op.fn(self.spark, data).toPandas()
            rec["latency_s"] = time.perf_counter() - t0
            rec["result"] = pdf
        except Exception:  # noqa: BLE001 - a failed call is counted, not fatal
            rec["error"] = traceback.format_exc(limit=3)
        if traced:
            after = lake_files(self.tmp)
            changed = [p for p, v in after.items() if before.get(p) != v]
            rec["lake_bytes"] = sum(after[p][0] for p in changed)
            rec["lake_files"] = len(changed)
        self.calls += 1
        return rec

    # -- passes ------------------------------------------------------------

    def one_pass(self, index: int, traced: bool) -> dict:
        first = len(self.tracer.spans)
        if self.workload == "sql_requests":
            sizes = datagen.sizes(workloads.SCALE[self.workload])
            recs = [self.sql_call(r, traced) for r in workloads.sql_pass(self.rng, sizes)]
        else:
            data = os.path.join(os.path.dirname(self.data), f"pass{index}")
            shutil.copytree(self.data, data)  # fresh input: every call is a first call
            recs = [self.op_call(op, data, traced) for op in workloads.build_pass(self.rng)]
        if traced:
            self.tracer.resolve_counts(self.tracer.spans[first:])
        wall = sum(r.get("latency_s", 0.0) for r in recs)
        return {"traced": traced, "wall_s": wall, "calls": recs}

    def main(self) -> dict:
        out = {"setup": self.setup()}
        out["floor_before_s"] = floor_s(self.spark)

        index = WARMUP_PASSES[self.workload]
        warm = [self.one_pass(i, traced=False) for i in range(index)]
        out["warmup_wall_s"] = [p["wall_s"] for p in warm]
        out["warmup_errors"] = [c["error"] for p in warm for c in p["calls"] if "error" in c]

        # Trace runs alternate untraced and traced passes (U T T U U T T U ...)
        # so the tracing overhead is measured on the same warm engine.
        count = workloads.measured_passes(self.workload, self.seconds)
        if self.trace:
            count = max(count, 2)
        t0, ticks = time.perf_counter(), cpu_ticks()
        passes = [self.one_pass(index + i, self.trace and i % 4 in (1, 2)) for i in range(count)]
        out["measured_s"] = time.perf_counter() - t0
        delta = [b - a for a, b in zip(ticks, cpu_ticks())]
        out["steal_frac"] = delta[7] / max(1, sum(delta))  # CPU time the host took
        out["floor_after_s"] = floor_s(self.spark)

        from loopbench.check import Checker

        t_check = time.perf_counter()
        checker = Checker(self.data, self.ops)
        for p in passes:
            for c in p["calls"]:
                checker.check(self.workload, c)
                c.pop("result", None)
        out["passes"] = passes
        out["check_s"] = time.perf_counter() - t_check
        if self.trace:
            out["spans"] = self.tracer.dump()
        return out


def main(argv: list[str]) -> int:
    workload, seed, seconds, trace, data, out_path = argv
    run = Run(workload, int(seed), float(seconds), trace == "1", data)
    try:
        out = run.main()
    finally:
        spark = getattr(run, "spark", None)
        if spark is not None:
            spark.stop()
    with open(out_path, "w") as fh:
        json.dump(out, fh, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
