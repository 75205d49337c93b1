"""End-to-end pipeline benchmark of graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs
the workload in one JVM (Spark local[nproc], one closed-loop client),
checks its outputs (perfbench/check.py) and prints every metric by name
with its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} holding the end-to-end
metrics of BENCHMARK.json on untraced runs and its per-layer metrics on
traced runs. Exits 1 when an output check fails.

Every file it writes stays under the build directory ($CARGO_TARGET_DIR,
else .bench_build) of the checkout it runs from.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

JVM_TIMEOUT_S = 170


def run_jvm(b, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    env.pop("SPARK_GRAFT_MASTER", None)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(b.java("perfbench.Main", args, tmp), stdout=log, stderr=subprocess.STDOUT,
                             env=env, cwd=run_dir)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: workload JVM exited with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    b, stamp = build.build(build_dir)

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work, out = (os.path.join(run_dir, d) for d in ("data", "work", "out"))
    t = time.time()
    gen.generate(a.workload, a.seed, data)
    gen_s = time.time() - t
    run_jvm(b, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--data", data, "--work", work, "--out", out], run_dir)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    failures, facts = check.run(a.workload, data, out, res)
    for d in (work, os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "tmp")):
        shutil.rmtree(d, ignore_errors=True)
    e2e = report.end_to_end(a.workload, data, res, "traced" if a.trace else "run")
    # a metric with no sample reads 0, the best a lower-is-better time can
    # get: it fails the run instead of passing as a result
    failures += [f"metric {k} has no sample" for k in report.CONTRACT_E2E if not e2e[k]["value"] > 0]
    failed_checks = sum(1 for c in res["checks"] if not c["ok"]) + len(failures)
    attempted = int(res["attempted"]) + len(res["checks"])
    failed = int(res["failed"]) + failed_checks
    env = {"nproc": res["nproc"], "heap_mb": res["heap_mb"], "calibration_s": res["calibration_s"],
           "source_stamp": stamp, "seed": a.seed, "seconds": a.seconds, "gen_s": round(gen_s, 3)}
    if "knn_recall" in facts:
        e2e["knn_recall"] = report.m(facts["knn_recall"], "ratio", n=facts["queries_scored"])
    artifact = {"workload": a.workload, "env": env, "end_to_end": e2e, "check_failures": failures,
                "check_facts": facts, "attempted": attempted, "failed": failed,
                "failed_ratio": failed / attempted}
    if a.trace:
        layers, self_ms = report.per_layer(a.workload, data, out, res, facts)
        untraced = report.end_to_end(a.workload, data, res, "untraced")
        artifact["per_layer"] = layers
        artifact["self_ms"] = self_ms
        artifact["untraced"] = untraced
        # set-up and peak RSS are one reading per run, shared by both passes
        artifact["tracing_overhead"] = {k: e2e[k]["value"] - untraced[k]["value"] for k in e2e
                                        if k in untraced and k not in ("setup_s", "peak_rss_mb")}
    with open(os.path.join(out, "report.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)

    for k, v in sorted(env.items()):
        print(f"env {k} {v}")
    for e in res["errors"]:
        print(f"operation FAILED {e}")
    for f in failures:
        print(f"check FAILED {f}")
    for name, m in e2e.items():
        print(f"metric {name} {m['value']:.6g} {m['unit']}")
    if a.trace:
        for name, m in artifact["tracing_overhead"].items():
            print(f"tracing_overhead {name} {m:.6g} {e2e[name]['unit']}")
        for name, m in artifact["per_layer"].items():
            print(f"layer {name} {m['value']:.6g} {m['unit']}")
    print(f"artifact {os.path.relpath(os.path.join(out, 'report.json'), ROOT)}")

    if a.trace:
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in artifact["per_layer"].items()}
    else:
        metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in e2e.items()
                   if k in report.CONTRACT_E2E}
    # an operation that threw or an output check that failed makes the run wrong
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
