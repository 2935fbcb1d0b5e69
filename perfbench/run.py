#!/usr/bin/env python3
"""The repo benchmark: one workload per run, run from the repository root.

    python3 perfbench/run.py --workload warehouse_x10 --seed 1 --seconds 10 --trace 0

It builds the library and the benchmark from source (perfbench/build.sbt,
skipped when the sources are unchanged since the last build), starts one
JVM that generates the seeded inputs and times passes of the workload's
jobs (perfbench/src/main/scala/perfbench/Bench.scala), checks the
committed outputs (DuckDB oracles, pinned row counts and content hashes
in expected.json, and invariants; see checks.py), and
prints every metric by name with its unit. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. --trace 0
reports the end-to-end metrics, --trace 1 the per-layer metrics of a
traced run. Everything it writes stays under perfbench/ (.work/, out/,
target/). See perfbench/README.md for the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
# workload -> (input tables, replica factor, jobs as in Workloads.scala,
# per-layer metrics of layers the workload does not use, which read 0)
WORKLOADS = {
    "warehouse_x10": (["region", "nation", "customer", "supplier", "part", "orders",
                       "lineitem", "events"], 10,
                      ["clean_region", "clean_nation", "clean_customer", "clean_supplier",
                       "clean_part", "clean_orders", "clean_lineitem", "merge_user_latest",
                       "bistore_order_master", "dws_customer_region"],
                      ["native.", "operators.", "streaming."]),
    "curation_batch": (["documents", "embeddings"], 1,
                       ["clean_corpus", "screen_batch", "build_ann_index", "encode_pq"],
                       ["streaming."]),
    # the traced pass sees continuousCurate as one streaming span
    "curation_stream": (["documents"], 1, ["curate_stream"],
                        ["native.dot_rows_per_s", "ops.", "operators."]),
}


def unused(workload, metric):
    """True if the metric belongs to a layer or job the workload does not run."""
    _, _, jobs, layers = WORKLOADS[workload]
    if metric.startswith("jobs.call_s."):
        return metric[len("jobs.call_s."):] not in jobs
    return metric.startswith(tuple(layers))
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            if "target" in d.split(os.sep):
                continue
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the benchmark; returns the runtime classpath."""
    if not os.path.isdir(LIB_SRC):
        raise SystemExit(f"library sources not found at {os.path.relpath(LIB_SRC, ROOT)}")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                       + (f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}"
                          if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else ""))
    log("building library + benchmark (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if p.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(p.stdout[-6000:])
        raise SystemExit(f"build failed (exit {p.returncode})")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return open(cp_file).read().strip()


def run_jvm(cp, args, work, result, setup_start):
    """Starts the JVM, generates the inputs while its session starts, and
    waits for it; returns its result file."""
    tables, copies = WORKLOADS[args.workload][:2]
    cores = os.cpu_count() or 4
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-Xms3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:MetaspaceSize=512m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Bench",
              "--workload", args.workload,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--result", result, "--cores", str(cores),
              "--in", f"{work}/in",
              "--ready", f"{work}/inputs.ready", "--setup-start", str(int(setup_start * 1000)),
              "--input-rows", str(sum(gen.rows(t, copies) for t in tables))])
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            try:
                gen.generate(f"{work}/in", tables, copies, args.seed)
                open(f"{work}/inputs.ready", "w").close()
            except Exception:
                open(f"{work}/inputs.ready.failed", "w").close()
                raise
            rc = p.wait(timeout=170)
        except BaseException:
            p.kill()
            p.wait()
            raise
    if rc != 0 or not os.path.exists(result):
        with open(jvm_log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-8000:])
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    with open(result) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    setup_start = time.time()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, args, work, os.path.join(work, "result.json"), setup_start)
        problems = checks.check(args.workload, res)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = int(res["attempted"])
    failed = int(res["failed"])
    if problems:
        # the first timed pass's outputs failed their oracle; every other
        # pass matched those outputs, so every operation counts as failed
        failed = attempted
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        wanted = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    # a run whose passes all failed, or whose outputs failed their check,
    # has no metrics; one that has them must
    # have every wanted metric, except one of a layer the workload does not
    # use, which reads 0
    values = {} if problems else dict(res["metrics"])
    if values and args.trace:
        values = {**{m["name"]: 0 for m in wanted if unused(args.workload, m["name"])}, **values}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted if m["name"] in values}
    if values and len(metrics) != len(wanted):
        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        raise SystemExit(f"the run reported no value for {missing}")
    units = {m["name"]: m["unit"] for m in wanted}
    # every value the run reported, also those BENCHMARK.json does not list
    # (the jobs.call_s.* of warehouse_x10), goes to the record and the log
    reported = {k: {"value": v, "unit": units.get(k, "s" if k.startswith("jobs.call_s.") else "")}
                for k, v in sorted(values.items())}
    correct = not problems and failed == 0 and res["warm_ok"] and bool(metrics)

    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    res["oracle_problems"] = problems
    res["metrics"] = reported
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(res, fh, indent=1)

    for p in problems:
        print(f"output check: {p}")
    for e in res.get("warm_errors", []):
        print(f"warm-up error: {e}")
    for p in res["passes"] + res.get("traced_passes", []):
        for e in p["errors"]:
            print(f"pass {p['idx']} error: {e}")
    timed = [p for p in res["passes"] if p["hashes"]]  # warm-up passes are not hashed
    print(f"workload {args.workload} seed {args.seed}: {len(timed)} timed passes, "
          f"{res['batch_samples']} batch samples (tail percentile with >=10 beyond: "
          f"{res['batch_tail_percentile']}), fail_ratio {failed / max(attempted, 1):.4f} "
          f"({failed}/{attempted})")
    for name, m in reported.items():
        print(f"{name:32s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    import checks
    import gen
    main()
