#!/usr/bin/env python3
"""pregel_rs_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload pagerank_web --seed 1 --seconds 10 --trace 0

Workloads: ``pagerank_web`` and ``components_deep`` (perfbench/README.md
says what each stresses and why).

A run starts one ``local[nproc]`` Spark session, builds the workload's
inputs from ``--seed`` several times (set-up), computes the reference
answer once, makes one cold call, then repeats the timed call for
``--seconds`` seconds (and, untraced, at least ``MIN_SAMPLES`` times),
checking every result against the reference.
With ``--trace 1`` it alternates untraced and traced calls and reports
per-layer metrics instead of end-to-end ones.

The last line of stdout is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the full report (fingerprints, host record, samples, counters, spans).
Exits 1 on any correctness failure, 2 when the library is missing.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3
# a timed call on components_deep takes 6-10 s on 4 vCPUs, so a short run
# would otherwise report the mean of two calls, and one slow call would
# move the whole run; the median of three or more does not
MIN_SAMPLES = 3
DRIVER_MEMORY = "2g"
DEADLINE_S = 170  # a run must end within 180 s

END_TO_END_UNITS = {
    "wall_s": "s",
    "setup_s": "s",
    "supersteps_per_hour": "1/h",
    "edges_per_s": "1/s",
    "pages_per_s": "1/s",
    "peak_rss_mb": "MB",
}
# exact counters: equal on every call of one run (same code, same input)
EXACT = ("jobs", "stages", "tasks", "shuffle_records", "supersteps",
         "star_rounds", "checkpoint_writes", "edges_out")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["pagerank_web", "components_deep"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _loadavg() -> list[float]:
    return [float(x) for x in open("/proc/loadavg").read().split()[:3]]


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies: steal is time the hypervisor ran others."""
    fields = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _pinned(workload: str, seed: int):
    path = HERE / "fingerprints.json"
    if not path.is_file():
        return None
    return json.loads(path.read_text()).get(workload, {}).get(str(seed))


def start_spark(scratch: Path, cores: int):
    from pregel_rs_spark.sources.io import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(scratch / "local"),
        "spark.sql.warehouse.dir": str(scratch / "warehouse"),
        # A fixed-size, pre-touched heap: the JVM's resident size then does
        # not depend on when the collector chose to grow or touch the heap,
        # so peak_rss_mb moves with native memory (generated classes, code
        # cache, threads, direct buffers) and heap pressure shows as GC time.
        # C1 only: on 4 vCPUs the C2 compiler threads compete with the tasks
        # for the whole of a short run, and where a call lands on the C2
        # warm-up curve varies from run to run; with C1 every timed call is
        # at the same compilation state.
        # C1 only shrinks the default code cache to 48 MB.  Spark generates
        # a few hundred classes per call, so on components_deep the cache
        # filled on the fourth call of a JVM: the JVM flushed compiled
        # methods and recompiled them, 8 s of JIT CPU time in that call
        # against about 1 s in the others, and the call took 1.2-1.5x as
        # long.  The tiered default of 240 MB does not fill in a run.  The
        # low compile thresholds get most hot methods compiled during the
        # cold call, so fewer are still being compiled in the timed calls.
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
            "-XX:ReservedCodeCacheSize=240m -XX:Tier3InvocationThreshold=4 "
            "-XX:Tier3MinInvocationThreshold=2 -XX:Tier3CompileThreshold=40 "
            f"-Djava.io.tmpdir={scratch / 'tmp'}",
        # keep every job of the run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _persistent_ids(sc) -> set:
    it = sc._jsc.getPersistentRDDs().keySet().iterator()
    out = set()
    while it.hasNext():
        out.add(it.next())
    return out


def _free_new_rdds(sc, keep: set) -> None:
    """Unpersist every RDD cached since ``keep`` was taken, so each call
    starts from the same storage state."""
    rdds = sc._jsc.getPersistentRDDs()
    for rid in _persistent_ids(sc) - keep:
        rdds.get(rid).unpersist(False)


def run(args, scratch: Path) -> tuple[dict, dict]:
    from tracing import JobGroups, Tracer, layer_metrics, op_counters
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    host = {
        "nproc": cores,
        "mem_total_mb": _meminfo_kb("MemTotal") // 1024,
        "loadavg_before": _loadavg(),
        "python": platform.python_version(),
    }
    ticks0 = _cpu_ticks()
    errors: list[str] = []

    t0 = time.monotonic()
    spark = start_spark(scratch, cores)
    session_s = time.monotonic() - t0
    try:
        sc = spark.sparkContext
        jvm = sc._jvm
        jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        host["java"] = str(jvm.java.lang.System.getProperty("java.version"))
        host["spark"] = spark.version
        host["spark_conf"] = {
            k: v for k, v in sorted(sc.getConf().getAll())
            if k.startswith(("spark.sql.", "spark.driver.memory",
                             "spark.default", "spark.master",
                             "spark.ui.enabled", "spark.local.dir"))
        }
        groups = JobGroups(sc)

        # -- set-up: build the seeded inputs SETUP_REPS times -------------
        build_s, inputs, fps = [], None, []
        for rep in range(SETUP_REPS):
            if inputs is not None:
                inputs.release()
            t = time.monotonic()
            inputs = wl.build(spark, args.seed)
            build_s.append(time.monotonic() - t)
            fps.append(inputs.fingerprints)
        if any(fp != fps[0] for fp in fps):
            errors.append(f"input generation is not deterministic: {fps}")
        pinned = _pinned(wl.name, args.seed)
        if pinned is not None and pinned != inputs.fingerprints:
            errors.append(
                f"inputs for seed {args.seed} changed: fingerprints "
                f"{inputs.fingerprints} != pinned {pinned}; runs on different "
                "inputs are not comparable (perfbench/pin_inputs.py re-pins)"
            )
        ref = wl.reference(inputs)
        keep = _persistent_ids(sc)

        def call(tag: str, tracer=None):
            ck = scratch / "ck" / tag
            groups.set(tag, "op")
            span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
            t = time.monotonic()
            with tracer.installed() if tracer else contextlib.nullcontext():
                out = wl.op(inputs, str(ck), span)
            wall = time.monotonic() - t
            groups.clear()
            errs = wl.check(out, ref)
            _free_new_rdds(sc, keep)
            shutil.rmtree(ck, ignore_errors=True)
            return out, wall, errs

        # set-up ends with the first (cold) call.  The first timed call is
        # often ~10% slower than the later ones; the median absorbs it, and
        # a further warm-up call would take the time of a timed call.
        _, cold_s, cold_errs = call("cold")
        errors += [f"cold call: {e}" for e in cold_errs]
        setup_s = session_s + statistics.median(build_s) + cold_s

        # -- timed loop ------------------------------------------------------
        samples, attempted, failed = [], 0, 0
        traced, layers, spans = [], [], []
        t_loop = time.monotonic()
        i = 0
        while (time.monotonic() - t_loop < args.seconds
               or (not args.trace and len(samples) < MIN_SAMPLES)
               or (args.trace and not traced)):
            tag = f"op-{i}"
            tracer = Tracer(groups, tag) if args.trace and i % 2 else None
            attempted += 1
            try:
                out, wall, errs = call(tag, tracer)
            except Exception as ex:
                # counted as failed; the run still reports what it measured
                traceback.print_exc()
                failed += 1
                errors.append(f"{tag}: raised {type(ex).__name__}: {ex}")
                groups.clear()
                break
            if errs:
                failed += 1
                errors += [f"{tag}: {e}" for e in errs]
            sample = {"tag": tag, "wall_s": wall, "supersteps": out.supersteps,
                      "counters": dict(out.counters), "traced": bool(tracer)}
            sample["edges_per_s"] = ref["edges"] * out.supersteps / wall
            sample["pages_per_s"] = ref["vertices"] / wall
            sample["supersteps_per_hour"] = out.supersteps * 3600.0 / wall
            if tracer:
                jobs = groups.read({tag} | {s.id for s in tracer.spans})
                sample["counters"].update(op_counters(jobs))
                lm = layer_metrics(tracer, jobs, wall, cores, groups)
                lm["extract.edges_out"] = out.counters.get("edges_out", 0)
                lm["extract.link_keep_ratio"] = (
                    lm["extract.edges_out"] / ref["raw_links"]
                    if ref.get("raw_links") else 0.0)
                layers.append(lm)
                spans = tracer.to_json()
                traced.append(sample)
            samples.append(sample)
            i += 1
        for s in samples:
            if not s["traced"]:
                s["counters"].update(op_counters(groups.read({s["tag"]})))
        peak_rss_mb = _vm_hwm_mb(jvm_pid)
    finally:
        stop_spark(spark)
    host["loadavg_after"] = _loadavg()
    ticks1 = _cpu_ticks()
    host["cpu_steal_fraction"] = (
        (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1))

    plain = [s for s in samples if not s["traced"]]
    mismatches = {}
    for key in EXACT:
        vals = [s["counters"][key] for s in samples if key in s["counters"]]
        if len(set(vals)) > 1:
            mismatches[key] = vals

    def med(key, rows):
        return statistics.median(s[key] for s in rows) if rows else None

    report = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "fingerprints": inputs.fingerprints,
        "fingerprints_pinned": pinned,
        "host": host,
        "setup": {"session_s": session_s, "build_s": build_s,
                  "cold_s": cold_s},
        "reference": {k: ref[k] for k in ("edges", "vertices", "supersteps",
                                          "raw_links") if k in ref},
        "samples": samples,
        # with fewer than 20 samples no percentile above the median has ten
        # samples beyond it, so the median is the highest one reported
        "wall_s_p50": med("wall_s", plain),
        "wall_samples": len(plain),
        "failed_fraction": failed / attempted if attempted else 1.0,
        "counter_mismatches": mismatches,
        "errors": errors,
    }
    if args.trace:
        last = layers[-1] if layers else {}
        metrics = {k: {"value": v, "unit": _layer_unit(k)}
                   for k, v in last.items()}
        metrics["sources.load_s"] = {
            "value": statistics.median(build_s), "unit": "s"}
        overhead = (med("wall_s", traced) - med("wall_s", plain)
                    if traced and plain else 0.0)
        metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
        report["spans"] = spans
    else:
        values = {
            "wall_s": med("wall_s", plain),
            "setup_s": setup_s,
            "supersteps_per_hour": med("supersteps_per_hour", plain),
            "edges_per_s": med("edges_per_s", plain),
            "pages_per_s": med("pages_per_s", plain),
            "peak_rss_mb": peak_rss_mb,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in values.items()}
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return report, result


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("cpu_util", "ratio", "share", "skew")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "pregel_rs_spark" / "__init__.py").is_file():
        print(f"perfbench: no pregel_rs_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    scratch = ROOT / ".perfbench_run" / str(os.getpid())
    for sub in ("tmp", "local", "ck"):
        (scratch / sub).mkdir(parents=True, exist_ok=True)
    # everything Spark, the JVM and the Python workers write stays here
    os.environ["TMPDIR"] = str(scratch / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    sys.path.insert(0, str(ROOT))
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    backstop = threading.Timer(DEADLINE_S + 8, os._exit, args=(3,))
    backstop.daemon = True
    backstop.start()
    try:
        report, result = run(args, scratch)
    finally:
        signal.alarm(0)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            (ROOT / ".perfbench_run").rmdir()
        except OSError:
            pass
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    if report["errors"]:
        for e in report["errors"]:
            print(f"perfbench: {e}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
