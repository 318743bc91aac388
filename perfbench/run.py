#!/usr/bin/env python3
"""Benchmark for the claims pipeline and the analytics query layers.

Usage (from the repository root):

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --record-goldens

Workloads: claims_backfill, analytics_mix (see
perfbench/README.md and perfbench/spec.json).

Each run builds the harness if the sources changed (sbt, outside every
timed path), makes its inputs from the seed, measures set-up in a fresh
set-up-only JVM, then runs the workload in one more fresh JVM (whose
set-up is the second sample) for at least S seconds of operation time.
Every operation's output is checked; a wrong output or a failed call
counts in `failed`. A human-readable report goes to stderr and the last
stdout line is one JSON object:

  {"correct": .., "attempted": .., "failed": .., "metrics": {name: {value, unit}}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
from a traced run (spans are also written to .bench_work/traces/).

--record-goldens re-records perfbench/goldens.json: it runs every query in
perfbench/mix.json in two fresh JVMs, twice each, and admits to the mix
only the queries whose row count and fingerprint agree on all four.
"""

import argparse
import hashlib
import json
import os
import queue
import random
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing beside the sources

import gen_claims  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("claims_backfill", "analytics_mix")
SETUP_ONLY_JVMS = 1          # plus the workload JVM's own set-up
RUN_BUDGET_S = 170           # one run, after the build
BUILD_TIMEOUT_S = 840
# Timed operations per untraced run, at least (runs time whole passes over
# their batches or query mix), and untimed warm-up calls (claims) or passes
# over the mix (analytics) before them.
MIN_OPS = {"claims_backfill": 4, "analytics_mix": 48}
WARMUP = {"claims_backfill": 3, "analytics_mix": 1}
ORDERS = 8                   # seeded permutations of the query mix
LAYERS = ("operators", "functions", "sources", "relational")

END_TO_END = {               # name -> unit (BENCHMARK.json end_to_end)
    "setup_s": "s",
    "p50_s": "s",
    "ops_per_s": "1/s",
}


def per_layer_units(mix_ids):
    """name -> unit for every per-layer metric (BENCHMARK.json per_layer)."""
    units = {
        "claims.normalize.self_s": "s",
        "claims.eligibility.self_s": "s",
        "claims.eligibility.flag_ratio": "ratio",
        "claims.eligibility.flagged": "count",
        "claims.eligibility.processed": "count",
        "claims.sinks.self_s": "s",
        "claims.sinks.rows": "count",
        "claims.sinks.bytes": "bytes",
        "claims.plan_s": "s",
        "claims.jobs_per_batch": "count",
        "queries.plan_s": "s",
    }
    for layer in LAYERS:
        units[layer + ".mix_s"] = "s"
    units["sources.bytes_written"] = "bytes"
    for q in mix_ids:
        units["queries.%s.p50_s" % q] = "s"
    units.update({
        "spark.tasks": "count",
        "spark.task_busy_s": "s",
        "spark.core_util": "ratio",
        "spark.gc_s": "s",
        "spark.shuffle_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.codegen_compiles": "count",
        "jvm.heap_peak_mb": "MB",
        "trace.overhead_s": "s",
    })
    return units


def log(msg):
    print(msg, file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# --- build -------------------------------------------------------------------

def build_dir():
    return os.path.join(ROOT, ".bench_build")


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for rel in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/harness"):
        base = os.path.join(ROOT, rel)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(("%s\0%d\0%d\n" % (os.path.relpath(p, ROOT), st.st_size,
                                         st.st_mtime_ns)).encode())
    return h.hexdigest()


def ensure_build():
    """Compile the repository and the harness (once per source state) and
    return (classpath, jvm options) for the harness JVM."""
    os.makedirs(build_dir(), exist_ok=True)
    stamp_path = os.path.join(build_dir(), "stamp")
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = source_stamp()
    fresh = False
    if os.path.exists(launch) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            fresh = f.read() == stamp
    if not fresh:
        log("building harness (sbt writeLaunch) ...")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        t0 = time.monotonic()
        with open(os.path.join(build_dir(), "sbt.log"), "wb") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "writeLaunch"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        if rc != 0:
            raise BenchError("build failed (see %s/sbt.log)" % build_dir())
        with open(stamp_path, "w") as f:
            f.write(stamp)
        log("built in %.1fs" % (time.monotonic() - t0))
    with open(launch) as f:
        lines = f.read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


def heap_size():
    """Half the machine's memory in GiB, clamped to 2..8 (the test heap)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return "%dg" % min(8, max(2, g))
    except OSError:
        pass
    return "2g"


# --- JVM runs ----------------------------------------------------------------

class Jvm:
    """Launches the harness; set-up time is wall time from launch to READY."""

    def __init__(self, classpath, options, work, deadline):
        self.classpath, self.options = classpath, options
        self.work, self.deadline = work, deadline
        self.count = 0

    def run(self, plan):
        self.count += 1
        tag = "%s-%d" % (plan["mode"], self.count)
        plan_path = os.path.join(self.work, tag + ".plan.json")
        result_path = os.path.join(self.work, tag + ".result.json")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        # -XX:-UsePerfData: no hsperfdata file outside the work dir.
        cmd = ["java"] + self.options + [
            "-Xmx" + heap_size(), "-Djava.io.tmpdir=" + tmp, "-XX:-UsePerfData",
            "-cp", self.classpath, "perfbench.Harness", plan_path, result_path]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"))
        lines = queue.Queue()
        with open(os.path.join(self.work, tag + ".log"), "wb") as err:
            t0 = time.monotonic()
            p = subprocess.Popen(cmd, cwd=self.work, env=env, stdin=subprocess.DEVNULL,
                                 stdout=subprocess.PIPE, stderr=err)
            reader = threading.Thread(target=self._read, args=(p.stdout, lines, t0))
            reader.start()
            try:
                ready = self._await_ready(lines)
                if plan["mode"] == "setup" and ready is not None:
                    p.terminate()  # set-up is measured; nothing else to wait for
                p.wait(timeout=max(1.0, self.deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                raise BenchError("%s exceeded the run budget" % tag)
            finally:
                if p.poll() is None:
                    p.kill()
                    p.wait()
                reader.join()
        failed = ready is None or (
            plan["mode"] != "setup" and (p.returncode != 0 or not os.path.exists(result_path)))
        if failed:
            with open(os.path.join(self.work, tag + ".log"), errors="replace") as f:
                tail = "".join(f.readlines()[-15:])
            raise BenchError("%s failed (exit %s); log tail:\n%s" % (tag, p.returncode, tail))
        log("%s: ready after %.2fs, exited after %.2fs" % (tag, ready, time.monotonic() - t0))
        result = {}
        if plan["mode"] != "setup":
            with open(result_path) as f:
                result = json.load(f)
        result["setup_s"] = ready
        return result

    def _await_ready(self, lines):
        """Seconds from launch to the READY line; None if stdout closed first."""
        while True:
            try:
                line, t = lines.get(timeout=max(0.1, self.deadline - time.monotonic()))
            except queue.Empty:
                raise subprocess.TimeoutExpired("harness", RUN_BUDGET_S)
            if line is None or line == "READY":
                return t if line else None

    @staticmethod
    def _read(stream, lines, t0):
        for raw in stream:
            lines.put((raw.decode(errors="replace").strip(), time.monotonic() - t0))
        stream.close()
        lines.put((None, time.monotonic() - t0))


def cores():
    return len(os.sched_getaffinity(0))


def base_plan(mode, work, trace):
    return {"mode": mode, "cores": cores(), "work": work, "trace": trace}


# --- claims workloads --------------------------------------------------------

def render_metrics_log(exp):
    """PipelineMetrics.render for the expected counts."""
    lines = ["===== Pipeline Metrics Summary =====",
             "Total processed: %d" % exp["total_processed"],
             "By source: {'alpha': %d, 'beta': %d}" % (
                 exp["by_source"]["alpha"], exp["by_source"]["beta"]),
             "Flagged for resubmission: %d" % exp["flagged"],
             "Excluded by reason:"]
    lines += ["  - %s: %d" % (b, exp["excluded"][b]) for b in gen_claims.BUCKETS]
    return "\n".join(lines) + "\n"


def claims_op_problems(op, exp):
    """Why a ClaimPipeline.run output is wrong (empty when correct)."""
    if "error" in op:
        return ["error: " + op["error"]]
    bad = []
    m = op["metrics"]
    for k in ("total_processed", "flagged", "by_source", "excluded"):
        if m[k] != exp[k]:
            bad.append("%s %r != expected %r" % (k, m[k], exp[k]))
    if op["metrics_log"] != render_metrics_log(exp):
        bad.append("metrics log differs")
    c = op["candidates"]
    if not c.get("array"):
        bad.append("candidates file is not one JSON array")
    elif c["count"] != exp["candidates"] or c["id_sha256"] != exp["id_sha256"]:
        bad.append("candidates %d (%s...) != expected %d (%s...)" % (
            c["count"], c["id_sha256"][:12], exp["candidates"], exp["id_sha256"][:12]))
    return bad


def run_claims(jvm, workload, work, seed, seconds, trace):
    inputs = os.path.join(work, "inputs")
    gplan = gen_claims.generate_backfill(inputs, seed)
    expected = {b["id"]: b for b in gplan["batches"]}
    scratch = os.path.join(work, "out")
    os.makedirs(scratch, exist_ok=True)
    plan = dict(base_plan("claims", work, trace), seconds=seconds,
                min_ops=MIN_OPS[workload],
                warmup=WARMUP[workload], inputs=inputs, scratch=scratch,
                batches=[{"id": b["id"], "files": b["files"]} for b in gplan["batches"]])
    res = jvm.run(plan)
    attempted = failed = 0
    for op in res["ops"]:
        attempted += 1
        bad = claims_op_problems(op, expected[op["batch"]])
        if bad:
            failed += 1
            log("WRONG %s %s: %s" % (op["kind"], op["batch"], "; ".join(bad)))
    if trace:
        # The layer calls of each traced iteration are one more checked op.
        for run_id, spans in group_by_run(res["spans"]).items():
            attempted += 1
            exp = expected[run_id.split("#")[0]]
            elig = [s for s in spans if s["name"] == "claims.eligibility"]
            sinks = [s for s in spans if s["name"] == "claims.sinks"]
            ok = len(elig) == 1 and len(sinks) == 1 and \
                elig[0]["attrs"]["flagged"] == exp["flagged"] and \
                sinks[0]["attrs"]["rows"] == exp["candidates"]
            if not ok:
                failed += 1
                log("WRONG layer calls %s" % run_id)
    rows = {b["id"]: b["rows"] for b in gplan["batches"]}
    return res, attempted, failed, rows


def group_by_run(spans):
    out = {}
    for s in spans:
        out.setdefault(s["run"], []).append(s)
    return out


# --- analytics workload ------------------------------------------------------

def read_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def load_mix():
    """The query mix: each mix.json query admitted to goldens.json, with its
    layer tag, golden row count and fingerprint."""
    mix, goldens = read_json("mix.json"), read_json("goldens.json")["queries"]
    return {"data": mix["data"],
            "queries": {q["id"]: dict(goldens[q["id"]], layer=q["layer"])
                        for q in mix["queries"] if q["id"] in goldens}}


def run_analytics(jvm, work, seed, seconds, trace):
    mix = load_mix()
    ids = sorted(mix["queries"])
    rng = random.Random("analytics-%d" % seed)
    orders = [rng.sample(ids, len(ids)) for _ in range(ORDERS)]
    plan = dict(base_plan("analytics", work, trace), seconds=seconds,
                min_ops=MIN_OPS["analytics_mix"], warmup=WARMUP["analytics_mix"],
                data=os.path.join(HERE, mix["data"]), orders=orders)
    res = jvm.run(plan)
    attempted = failed = 0
    for op in res["ops"]:
        attempted += 1
        gold = mix["queries"][op["query"]]
        if "error" in op or (op["count"], op["fp"]) != (gold["count"], gold["fp"]):
            failed += 1
            log("WRONG %s %s: %s" % (op["kind"], op["query"], op.get("error") or
                                      "%s/%s != %s/%s" % (op["count"], op["fp"],
                                                          gold["count"], gold["fp"])))
    return res, attempted, failed


# --- metrics -----------------------------------------------------------------

def end_to_end(res, setup_samples, rows_by_batch):
    timed = [op["secs"] for op in res["ops"] if op["kind"] == "timed"]
    s = stats.summary(timed)
    setup = stats.quartiles(setup_samples)
    log("setup_s samples %s" % ", ".join("%.3f" % x for x in setup_samples))
    log("operations: n=%d p50=%.4fs q1=%.4fs q3=%.4fs tail=p%g %.4fs" % (
        s["n"], s["p50"], s["q1"], s["q3"], s["tail_p"], s["tail"]))
    if rows_by_batch:
        n_rows = sum(rows_by_batch[op["batch"]] for op in res["ops"] if op["kind"] == "timed")
        log("claim records: %d, %.0f rows/s of batch time" % (n_rows, n_rows / sum(timed)))
    return {
        "setup_s": setup[1],
        "p50_s": s["p50"],
        "ops_per_s": len(timed) / sum(timed),
    }


def median(xs):
    return stats.quartiles(xs)[1] if xs else 0.0


def spark_counters(op_spans, cores):
    """Per-operation means of the listener counters over the op spans."""
    n = len(op_spans)

    def mean(k):
        return sum(s["counters"][k] for s in op_spans) / n
    busy = sum(s["counters"]["task_busy_s"] for s in op_spans)
    wall = sum(s["end"] - s["start"] for s in op_spans)
    return {
        "spark.tasks": mean("tasks"),
        "spark.task_busy_s": mean("task_busy_s"),
        "spark.core_util": busy / (wall * cores),
        "spark.gc_s": mean("gc_s"),
        "spark.shuffle_bytes": mean("shuffle_bytes"),
        "spark.spill_bytes": mean("spill_bytes"),
        "spark.codegen_compiles": mean("codegen_compiles"),
    }


def overhead(res):
    traced = [op["secs"] for op in res["ops"] if op["kind"] == "traced"]
    untraced = [op["secs"] for op in res["ops"] if op["kind"] == "untraced"]
    t, u = median(traced), median(untraced)
    log("tracing overhead: traced p50 %.4fs - untraced p50 %.4fs = %+.4fs (n=%d/%d)" % (
        t, u, t - u, len(traced), len(untraced)))
    return t - u


def per_layer(workload, res, units, cores):
    out = {k: 0.0 for k in units}
    spans = res["spans"]
    out["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    out["trace.overhead_s"] = overhead(res)
    if workload.startswith("claims"):
        pipe = [s for s in spans if s["name"] == "claims.pipeline"]
        out.update(spark_counters(pipe, cores))
        for layer in ("normalize", "eligibility", "sinks"):
            per_run = stats.self_time_by_run(spans, "claims." + layer)
            out["claims.%s.self_s" % layer] = median(list(per_run.values()))
        elig = [s["attrs"] for s in spans if s["name"] == "claims.eligibility"]
        flagged = sum(a["flagged"] for a in elig)
        processed = sum(a["processed"] for a in elig)
        out["claims.eligibility.flagged"] = flagged
        out["claims.eligibility.processed"] = processed
        out["claims.eligibility.flag_ratio"] = flagged / processed
        sinks = [s["attrs"] for s in spans if s["name"] == "claims.sinks"]
        out["claims.sinks.rows"] = median([a["rows"] for a in sinks])
        out["claims.sinks.bytes"] = median([a["bytes"] for a in sinks])
        out["claims.plan_s"] = median([s["counters"]["plan_s"] for s in pipe])
        out["claims.jobs_per_batch"] = median([s["counters"]["jobs"] for s in pipe])
        log("eligibility: %d flagged of %d processed" % (flagged, processed))
    else:
        mix = load_mix()["queries"]
        qspans = [s for s in spans if s["name"] == "query"]
        out.update(spark_counters(qspans, cores))
        by_q = {}
        for op in res["ops"]:
            if op["kind"] == "traced":
                by_q.setdefault(op["query"], []).append(op)
        for q, ops in sorted(by_q.items()):
            p50 = median([o["secs"] for o in ops])
            out["queries.%s.p50_s" % q] = p50
            out[mix[q]["layer"] + ".mix_s"] += p50
            if mix[q]["layer"] == "sources":
                out["sources.bytes_written"] += median([o["bytes_written"] for o in ops])
        out["queries.plan_s"] = median([s["counters"]["plan_s"] for s in qspans])
    return out


# --- entry points --------------------------------------------------------------

def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def bench(args):
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) and
            os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        raise BenchError("no repository sources next to perfbench/ (need build.sbt, src/main)")
    classpath, options = ensure_build()
    deadline = time.monotonic() + RUN_BUDGET_S
    work = fresh_dir(os.path.join(ROOT, ".bench_work", "run-%s-%d-%d" % (
        args.workload, args.seed, os.getpid())))
    try:
        jvm = Jvm(classpath, options, work, deadline)
        setup = [jvm.run(base_plan("setup", work, 0))["setup_s"]
                 for _ in range(SETUP_ONLY_JVMS)]
        rows = None
        if args.workload == "analytics_mix":
            res, attempted, failed = run_analytics(
                jvm, work, args.seed, args.seconds, args.trace)
        else:
            res, attempted, failed, rows = run_claims(
                jvm, args.workload, work, args.seed, args.seconds, args.trace)
        setup.append(res["setup_s"])
        if args.trace:
            traces = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, "%s-seed%d.json" % (
                    args.workload, args.seed)), "w") as f:
                json.dump(res, f)
            units = per_layer_units(sorted(load_mix()["queries"]))
            values = per_layer(args.workload, res, units, cores())
        else:
            units = END_TO_END
            values = end_to_end(res, setup, rows)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for k in units:
        log("  %-40s %14.6g %s" % (k, values[k], units[k]))
    log("attempted %d, failed %d" % (attempted, failed))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))


def record_goldens():
    mix = read_json("mix.json")
    classpath, options = ensure_build()
    work = fresh_dir(os.path.join(ROOT, ".bench_work", "goldens"))
    runs = []
    try:
        for _ in range(2):
            jvm = Jvm(classpath, options, work, time.monotonic() + 3600)
            plan = dict(base_plan("goldens", work, 0),
                        data=os.path.join(HERE, mix["data"]), repeats=2,
                        queries=[q["id"] for q in mix["queries"]])
            runs.append(jvm.run(plan)["goldens"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    admitted, rejected = {}, {}
    for q in mix["queries"]:
        seen = [r for run in runs for r in run[q["id"]]]
        errors = [r["error"] for r in seen if "error" in r]
        keys = {(r.get("count"), r.get("fp")) for r in seen}
        if errors:
            rejected[q["id"]] = "error: " + errors[0][:200]
        elif len(keys) != 1:
            rejected[q["id"]] = "fingerprint differs between runs"
        else:
            count, fp = keys.pop()
            admitted[q["id"]] = {"count": count, "fp": fp}
    out = {"queries": admitted, "rejected": rejected}
    with open(os.path.join(HERE, "goldens.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    log("admitted %d, rejected %d: %s" % (len(admitted), len(rejected), rejected))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true")
    args = ap.parse_args()
    try:
        if args.record_goldens:
            record_goldens()
        elif args.workload:
            bench(args)
        else:
            ap.error("--workload or --record-goldens is required")
    except (BenchError, subprocess.TimeoutExpired) as e:
        log("benchmark error: %s" % e)
        sys.exit(2)


if __name__ == "__main__":
    main()
