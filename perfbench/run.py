"""Repository benchmark: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload tpch_llm_skew --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run

1. generates the workload's inputs from ``--seed`` (cached by seed and
   parameters under ``perfbench/_work/inputs``);
2. sets up three times and reports the median as ``setup_s``.  One
   set-up is session start (``session.get_spark``; the first one also
   launches the JVM), registry load (``registry.collect_specs``) and
   one untimed warm-up pass over the workload's own inputs.  Between
   set-ups the session is stopped and started again in the same JVM;
3. runs passes back to back for ``--seconds`` (closed loop, one
   client) and reports the median pass wall time ``pass_s`` and the
   geometric mean over queries of each query's median wall time
   ``query_geomean_s``;
4. checks outputs against the registry's DuckDB oracles (see
   ``workloads.py``), outside every timed region;
5. stops Spark and waits for the JVM to exit.

With ``--trace 1`` every other pass is traced (job group per query
phase, status-store reads after the pass; see ``tracing.py``) and the
per-layer numbers are printed instead: medians over traced passes,
probes of single layers, the driver JVM's peak resident set size, and
the tracing overhead (traced minus untraced median pass time).
Spans go to ``perfbench/_work/traces/``.

Everything the run writes stays under ``perfbench/_work``: inputs,
Spark local and temp dirs, sink output and traces.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
SETUPS = 3


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] master; default: the host's core count")
    return ap.parse_args(argv)


def _environment(cores: int) -> None:
    """Process environment for the driver JVM and the Python workers it
    forks: the package importable from any working directory, and
    every scratch directory inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    path = os.environ.get("PYTHONPATH")
    env = {
        "PYTHONPATH": REPO + (os.pathsep + path if path else ""),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cores),
        # keeps every JVM (the launcher's too) from writing under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    tempfile.tempdir = tmp  # in case anything read the default already


def _spark_confs() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``: the Python worker daemon the
    JVM forks, and the workers the daemon forks."""
    children = set()
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                children.update(map(int, f.read().split()))
    except FileNotFoundError:  # the process or one of its threads ended meanwhile
        pass
    return [p for c in children for p in (c, *_descendants(c))]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"  # a zombie has ended
    except FileNotFoundError:
        return False


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every one of ``pids`` has ended (they are not children
    of this process, so not waitable); kill those left after ``timeout``."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


class Runner:
    def __init__(self, workload, seconds: float, cores: int, trace: bool):
        self.w = workload
        self.seconds = seconds
        self.cores = cores
        self.trace = trace
        self.spark = None
        self.specs: dict = {}
        self.queries = []
        self.setups: list[dict] = []
        self.errors: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0

    # -- set-up -----------------------------------------------------------
    def setup_once(self, keep_rows: bool) -> dict:
        t0 = time.perf_counter()
        from map_reduce_multi_threaded_spark import registry
        from map_reduce_multi_threaded_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.w.name}",
                               master=f"local[{self.cores}]", extra_confs=_spark_confs())
        t1 = time.perf_counter()
        self.specs = {s.name: s for s in registry.collect_specs()}
        self.queries = self.w.queries(self.specs)
        t2 = time.perf_counter()
        for q in self.queries:  # warm-up pass, untimed per query
            try:
                result = q.build(self.spark)
                if keep_rows:
                    self.w.warm_act(q, result)
                else:
                    q.act(result)
            except Exception as e:  # noqa: BLE001 — reported as a failed query
                self.errors.setdefault(q.name, f"warm-up: {type(e).__name__}: {e}")
        t3 = time.perf_counter()
        return {"setup_s": t3 - t0, "session.start_s": t1 - t0,
                "registry.collect_s": t2 - t1, "setup.warmup_s": t3 - t2}

    def setup(self) -> None:
        for k in range(SETUPS):
            if k:
                self.spark.stop()
            self.setups.append(self.setup_once(keep_rows=k == SETUPS - 1))

    # -- timed passes -----------------------------------------------------
    def one_pass(self, tracer=None, pass_no: int = 0) -> tuple[float, dict, dict]:
        """Wall time of one pass, per-query (build, act) times and, when
        traced, the per-query phase intervals for spans."""
        per_query, intervals = {}, {}
        t_pass = time.perf_counter()
        for q in self.queries:
            self.attempted += 1
            try:
                if tracer:
                    tracer.group(pass_no, q.name, "build")
                tb, wb = time.perf_counter(), time.time()
                result = q.build(self.spark)
                ta, wa = time.perf_counter(), time.time()
                if tracer:
                    tracer.group(pass_no, q.name, "act")
                q.act(result)
                te, we = time.perf_counter(), time.time()
            except Exception as e:  # noqa: BLE001 — reported as a failed query
                self.failed += 1
                self.errors.setdefault(q.name, f"{type(e).__name__}: {e}")
                continue
            per_query[q.name] = (ta - tb, te - ta)
            intervals[q.name] = {"build": (wb, wa), "act": (wa, we)}
        if tracer:
            tracer.clear_group()
        return time.perf_counter() - t_pass, per_query, intervals

    def measure(self, tracer=None) -> dict:
        """Passes until ``seconds`` have gone by (at least one; two when
        traced, so that both kinds of pass are there).  When traced,
        passes alternate untraced / traced."""
        plain_walls, traced_walls, walls_by_query = [], [], {}
        builds, acts = [], []
        deadline = time.perf_counter() + self.seconds
        n = 0
        while n < (2 if tracer else 1) or time.perf_counter() < deadline:
            traced = tracer is not None and n % 2 == 1
            t0 = time.perf_counter()
            wall, per_query, intervals = self.one_pass(tracer if traced else None, n)
            if traced and intervals:
                tracer.read_pass(n, wall, intervals)
                traced_walls.append(time.perf_counter() - t0)
            else:
                plain_walls.append(wall)
                builds.append(sum(b for b, _ in per_query.values()))
                acts.append(sum(a for _, a in per_query.values()))
                for name, (b, a) in per_query.items():
                    walls_by_query.setdefault(name, []).append(b + a)
            n += 1
        return {"plain": plain_walls, "traced": traced_walls, "by_query": walls_by_query,
                "builds": builds, "acts": acts}

    # -- probes (traced run only) ----------------------------------------
    def probes(self) -> dict:
        import pyspark.sql.functions as F

        from map_reduce_multi_threaded_spark.functions.text import normalize_token
        from map_reduce_multi_threaded_spark.sources.text import tokens_from_text

        scan_s, rows = 0.0, 0
        for _, df, n in self.w.scan_inputs(self.spark):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            scan_s += time.perf_counter() - t0
            rows += n
        text = self.w.text_column(self.spark)
        toks = text.select(F.explode(tokens_from_text(F.col(text.columns[0]))).alias("tok"))
        t0 = time.perf_counter()
        toks.select(normalize_token(F.col("tok")).alias("word")).write.format("noop") \
            .mode("overwrite").save()
        tokenize_s = time.perf_counter() - t0
        sink = self.w.sink_probe(self.spark, os.path.join(WORK, "out", "sink_probe"))
        return {
            "sources.scan_s": scan_s,
            "sources.scan_rows_per_s": rows / scan_s,
            "functions.tokenize_s": tokenize_s,
            "sinks.write_s": sink[0] if sink else 0.0,
            "sinks.bytes_out": float(sink[1]) if sink else 0.0,
        }

    # -- teardown -----------------------------------------------------------
    def stop(self) -> float:
        """Stop Spark and the JVM, wait for it to exit; return the JVM's
        peak resident set size in MiB."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        peak = _vm_hwm_mb(proc.pid) if proc is not None else float("nan")
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            workers = _descendants(proc.pid)
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — last resort, then wait for real
                proc.kill()
                proc.wait()
            _wait_gone(workers, timeout=30)
        return peak


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(REPO, "map_reduce_multi_threaded_spark", "session.py")) \
            or not os.path.isfile(os.path.join(REPO, "scripts", "gen_altfixture.py")):
        print(f"perfbench: {REPO} holds no map_reduce_multi_threaded_spark checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]
    cores = args.cores or len(os.sched_getaffinity(0))
    phases = {"start": time.perf_counter()}
    os.makedirs(WORK, exist_ok=True)
    input_info = w.prepare(WORK, REPO, args.seed)
    _environment(cores)
    phases["inputs"] = time.perf_counter()

    r = Runner(w, args.seconds, cores, bool(args.trace))
    r.setup()
    phases["setup"] = time.perf_counter()
    setup_median = statistics.median(s["setup_s"] for s in r.setups)
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer(r.spark, w.name, cores)
    m = r.measure(tracer)
    probes = r.probes() if args.trace else {}
    phases["passes"] = time.perf_counter()
    failures = w.check(r.specs, REPO)
    r.failed += len(failures)
    r.attempted += len(r.queries)  # one output check per query
    r.errors.update(failures)
    phases["check"] = time.perf_counter()
    peak_mb = r.stop()
    phases["stop"] = time.perf_counter()

    pass_s = statistics.median(m["plain"])
    geomean = math.exp(statistics.fmean(
        math.log(statistics.median(v)) for v in m["by_query"].values()
    )) if m["by_query"] else float("nan")
    if args.trace:
        mid = sorted(r.setups, key=lambda s: s["setup_s"])[len(r.setups) // 2]
        traced_pass = statistics.median(m["traced"])
        metrics = {
            "session.start_s": (mid["session.start_s"], "s"),
            "registry.collect_s": (mid["registry.collect_s"], "s"),
            "setup.warmup_s": (mid["setup.warmup_s"], "s"),
            "operators.build_s": (statistics.median(m["builds"]), "s"),
            "exec.action_s": (statistics.median(m["acts"]), "s"),
            "trace.overhead_s": (traced_pass - pass_s, "s"),
            **{k: (v, "s") for k, v in probes.items() if k.endswith("_s")},
            "sources.scan_rows_per_s": (probes["sources.scan_rows_per_s"], "1/s"),
            "sinks.bytes_out": (probes["sinks.bytes_out"], "bytes"),
            "jvm.peak_rss_mb": (peak_mb, "MiB"),
        }
        metrics.update(tracer.medians())
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.write(os.path.join(WORK, "traces", f"{w.name}-seed{args.seed}.json"),
                     {"workload": w.name, "seed": args.seed, "cores": cores,
                      "inputs": input_info, "setups": r.setups,
                      "plain_pass_s": m["plain"], "traced_pass_s": m["traced"]})
    else:
        metrics = {
            "setup_s": (setup_median, "s"),
            "pass_s": (pass_s, "s"),
            "query_geomean_s": (geomean, "s"),
        }
    for name, err in sorted(r.errors.items()):
        print(f"perfbench: {name}: {err}", file=sys.stderr)
    print(f"perfbench: workload={w.name} seed={args.seed} cores={cores} "
          f"passes={len(m['plain'])}+{len(m['traced'])} setups="
          f"{[round(s['setup_s'], 3) for s in r.setups]} inputs={input_info}", file=sys.stderr)
    print(f"perfbench: pass walls s: {[round(x, 3) for x in m['plain']]}", file=sys.stderr)
    marks = list(phases.items())
    print("perfbench: phase walls s: " + ", ".join(
        f"{k}={t - t0:.1f}" for (_, t0), (k, t) in zip(marks, marks[1:])), file=sys.stderr)
    print("perfbench: median query wall s: " + ", ".join(
        f"{k}={statistics.median(v):.3f}" for k, v in m["by_query"].items()), file=sys.stderr)
    print(json.dumps({
        "correct": not r.errors,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
