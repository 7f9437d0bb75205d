"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the JVM runner from
source (perfbench/build.py), generates the workload's inputs from the
seed (perfbench/gen.py), runs the JVM runner (perfbench/scala) for about
`--seconds`, checks the outputs (perfbench/checks.py) and prints, as the
last stdout line, one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics of BENCHMARK.json with --trace 0,
its per-layer metrics with --trace 1. The lines before it name every
metric of the workload with its unit.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# workload -> (generator, output check)
WORKLOADS = {
    "satellite_daily": ("satellite", checks.check_satellite),
    "index_lifecycle": ("index", checks.check_index),
}
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_jvm(root, classes, workload, inputs, work, seconds, trace, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(root), "*"), "perfbench.Main",
            workload, inputs, work, str(seconds), str(trace), out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                              cwd=work, timeout=JVM_TIMEOUT_S)
    if proc.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail(f"JVM runner exited with {proc.returncode}:\n{tail}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: src/main/scala/graft not found")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(base, exist_ok=True)
    classes = build.build(root, base)

    kind, check = WORKLOADS[a.workload]
    work = os.path.join(base, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        t0 = time.perf_counter()
        plant = gen.GENERATORS[kind](a.seed, inputs)
        gen_s = time.perf_counter() - t0
        out = os.path.join(work, "raw.json")
        run_jvm(root, classes, a.workload, inputs, work, a.seconds, a.trace, out)
        with open(out) as f:
            raw = json.load(f)
        raw["plant"] = plant
        attempted, failed, notes = check(raw, plant)
        report(a, spec, raw, gen_s, attempted, failed, notes)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, spec, raw, gen_s, attempted, failed, notes):
    stamp = raw["stamp"]
    print(f"stamp loadavg_start=\"{stamp['loadavg']}\" cores={stamp['cores']} "
          f"calibration_s={stamp['calibration_s']:.4f} generation_s={gen_s:.3f}")
    for n in notes:
        print(f"check-failed {n}")
    print(f"metric error_share {failed / max(1, attempted):.6g} ratio")
    print("setup_rounds_s " + " ".join(f"{x:.3f}" for x in raw["setup_s"]))
    print(f"warmup_s {raw['warmup_s']:.3f}  # JIT warm-up run before the episodes, in no metric")
    for line in metrics.op_lines(a.workload, raw):
        print(line)
    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = metrics.per_layer(a.workload, raw, names)
        for layer, s in sorted(metrics.self_times(metrics.span_tree(raw["trace"])).items()):
            print(f"self_time {layer} {s:.4f} s")
        sites = {}
        for j in raw["trace"]["jobs"]:
            if j["span"] >= 0:  # inside a timed operation
                site = j["site"] or "(benchmark action)"
                sites[site] = sites.get(site, 0) + 1
        for site, n in sorted(sites.items(), key=lambda kv: -kv[1]):
            print(f"jobs_by_call_site {site} {n}")
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = metrics.end_to_end(a.workload, raw)
        for name, v, unit, note in metrics.named_metrics(a.workload, raw):
            shown = "n/a" if v is None else f"{v:.6g}"
            print(f"metric {name} {shown} {unit}" + (f"  # {note}" if note else ""))
    for n in names:
        print(f"metric {n} {values[n]:.6g} {units[n]}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": values[n], "unit": units[n]} for n in names}}))


if __name__ == "__main__":
    main()
