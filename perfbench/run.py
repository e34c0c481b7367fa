#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload frontier_1host --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (perfbench/build.py),
runs one workload for one seed in a fresh JVM at local[4], checks its
outputs, and prints one line per metric followed by the result as one
JSON object on the last line:

    {"correct": true, "attempted": 4, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1
runs one more operation under the span recorder and reports the
per-layer metrics. Workloads, metric definitions, predictions and
design decisions are in perfbench/spec.json; golden output digests per
recorded seed in perfbench/goldens.json.

    --record    store this run's digests as the golden for its seed
                (curate workloads: only after a DuckDB cross-check
                of every query against its oracleSql)
    --dump P    keep the raw run record, spans included, at P
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

RUN_LIMIT_S = 175
WARM_SEED_OFFSET = 1000003
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_OPTS = [o for p in ADD_OPENS for o in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)] + [
    "-Xms3g", "-Xmx3g", "-XX:ParallelGCThreads=4", "-XX:ConcGCThreads=1",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]


def load_json(path, default=None):
    if default is not None and not os.path.exists(path):
        return default
    with open(path) as fh:
        return json.load(fh)


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def generate_tables(wl, seed, run_dir):
    """Curate inputs: the run's tables (built gen_reps times, median
    seconds returned) and the warm-up tables of another seed.
    """
    import gen_tables
    warm = os.path.join(run_dir, "warm-tables")
    gen_tables.generate(warm, seed + WARM_SEED_OFFSET, wl["warm_sf"])
    data = os.path.join(run_dir, "tables")
    times = []
    for _ in range(wl["gen_reps"]):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        gen_tables.generate(data, seed, wl["sf"])
        times.append(time.perf_counter() - t0)
    return data, warm, statistics.median(times)


def run_jvm(classpath, args, run_dir, deadline):
    cmd = (["java"] + JVM_OPTS +
           ["-XX:SharedArchiveFile=" + build.CDS,
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-cp", classpath, "perfbench.Main"] + args)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    subprocess.run(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr, check=True,
                   timeout=max(1.0, deadline - time.time()))


def record_goldens(wl_name, wl, seed, record, out_dir, data_dir):
    goldens_path = os.path.join(HERE, "goldens.json")
    if wl_name.startswith("curate"):
        import oracle
        bad = oracle.cross_check(data_dir, out_dir, wl["queries"])
        if bad:
            for q, why in bad:
                log("oracle mismatch %s: %s" % (q, why))
            raise SystemExit("not recording: %d queries disagree with DuckDB" % len(bad))
        log("DuckDB oracle agrees on all %d queries" % len(wl["queries"]))
    goldens = load_json(goldens_path, {})
    goldens.setdefault(wl_name, {})[str(seed)] = metrics.golden_units(record)
    with open(goldens_path, "w") as fh:
        json.dump(goldens, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log("recorded golden %s seed %d" % (wl_name, seed))


def _terminate(signum, frame):
    # raising here makes subprocess.run kill and reap the benchmark JVM
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description="perfbench: run one workload for one seed")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--dump", metavar="PATH", help="also write the raw run record "
                    "(operations, units, spans, jobs, stages, SQL executions) to PATH")
    a = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S

    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    spec = load_json(os.path.join(HERE, "spec.json"))
    if a.workload not in spec["workloads"]:
        raise SystemExit("unknown workload %s" % a.workload)
    wl = spec["workloads"][a.workload]
    try:
        classpath = build.build(JVM_OPTS)
    except build.BuildError as e:
        log("build failed: %s" % e)
        return 2

    run_dir = os.path.join(build.BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        out = os.path.join(run_dir, "record.json")
        jargs = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--scratch", run_dir, "--out", out]
        for k, v in wl["args"].items():
            jargs += ["--" + k, str(v)]
        extra_setup, data = 0.0, None
        if "queries" in wl:
            data, warm, extra_setup = generate_tables(wl, a.seed, run_dir)
            jargs += ["--queries", ",".join(wl["queries"]), "--data", data, "--warm-data", warm]
        if a.record:
            jargs += ["--record", os.path.join(run_dir, "record-out")]
        try:
            run_jvm(classpath, jargs, run_dir, deadline)
        except subprocess.TimeoutExpired:
            log("run exceeded %d s" % RUN_LIMIT_S)
            return 3
        except subprocess.CalledProcessError as e:
            log("benchmark JVM exited with %d" % e.returncode)
            return 3
        record = load_json(out)
        if a.dump:
            shutil.copyfile(out, a.dump)
        st = record["setup"]
        log("set-up: jvm %.2f s, session %.2f s, warm-up %.2f s, inputs %s s%s; window %.2f s" % (
            st["jvm_s"], st["session_s"], st["warmup_s"],
            "/".join("%.2f" % x for x in st["inputs_s"]),
            ", tables %.2f s" % extra_setup if data else "", record["window_s"]))
        log("operations: %s s" % "/".join("%.2f" % op["wall_s"] for op in record["ops"]))

        golden = load_json(os.path.join(HERE, "goldens.json"), {}) \
            .get(a.workload, {}).get(str(a.seed))
        attempted, failed, problems = metrics.outcome(record, golden)
        for p in problems:
            log("check failed: " + p)
        if golden is None:
            log("no golden for seed %d: checked against this run's first operation" % a.seed)

        if a.trace:
            declared = bench["per_layer"]
            values = metrics.per_layer(record, [m["name"] for m in declared],
                                       wl.get("shuffle_queries", ()))
        else:
            declared = bench["end_to_end"]
            values = metrics.end_to_end(record, extra_setup)
        units = {m["name"]: m["unit"] for m in declared}
        print("workload %s seed %d nproc %d parallelism %d operations %d" % (
            a.workload, a.seed, record["nproc"], record["parallelism"], len(record["ops"])))
        for name, v in values.items():
            print("%-40s %14.6f %s" % (name, v, units[name]))
        print("%-40s %14.6f %s" % ("failed_ratio", metrics.ratio(failed, attempted), "ratio"))
        if a.record:
            if failed:
                raise SystemExit("not recording: %d failed units" % failed)
            record_goldens(a.workload, wl, a.seed, record, os.path.join(run_dir, "record-out"),
                           data)
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()}}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
