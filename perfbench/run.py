"""The benchmark's one command.

    python3 perfbench/run.py --workload chat --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

Run from the root of a checkout. A run builds the engine from source if
needed (perfbench/build.py), starts one JVM with a `local[4]` Spark
session, and prints every metric by name and unit, then, as its last
line, one JSON object: `correct`, `attempted`, `failed` and `metrics`.
With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json,
with `--trace 1` the per-layer ones. `--selfcheck` runs every workload at
a tiny size, once clean and once with a deliberately corrupted output,
and fails unless the clean runs pass and the corrupted ones are caught.

Everything a run writes stays inside the checkout: classes, logs and
spans under the build directory, the fixtures under a temp root named
after the process id, deleted when the run ends.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("chat", "curate")
JVM_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def launch(classpath, workload, seed, seconds, trace, sizes="full", corrupt=False):
    """Run one JVM; return its result dict, or exit 1 if it failed."""
    out_dir = build.build_dir(ROOT)
    tmp = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    logs = os.path.join(out_dir, "logs")
    os.makedirs(logs, exist_ok=True)
    tag = f"{workload}-seed{seed}-trace{trace}{'-' + sizes if sizes != 'full' else ''}"
    log_path = os.path.join(logs, tag + ".log")
    result_path = os.path.join(tmp, "result.json")
    # no hsperfdata file: the JVM would write it under /tmp, outside the checkout
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--tmp", tmp, "--out", result_path,
            "--corpus", os.path.join(ROOT, "perfbench", "data", "documents.tsv.gz"),
            "--spans", os.path.join(out_dir, "traces", tag + ".jsonl"),
            "--sizes", sizes, "--corrupt", "1" if corrupt else "0"]
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=tmp, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            why = "timed out" if code is None else f"exited {code}"
            raise SystemExit(f"perfbench: {workload} run {why}; log: {log_path}")
        with open(result_path) as f:
            return json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


def print_metrics(title, metrics):
    print(title)
    for name, m in metrics.items():
        v = m["value"]
        shown = "n/a" if v is None else f"{v:.6g}"
        print(f"  {name:<42} {shown:>14} {m['unit']}")


def run(args, spec):
    classpath = build.build(ROOT)
    res = launch(classpath, args.workload, args.seed, args.seconds, args.trace)
    key = "per_layer" if args.trace else "end_to_end"
    metrics = res[key]
    wanted = [m["name"] for m in spec[key]]
    if list(metrics) != wanted:
        raise SystemExit(f"perfbench: {key} metrics {list(metrics)} differ from BENCHMARK.json {wanted}")
    for m in spec[key]:
        if metrics[m["name"]]["value"] is None:
            raise SystemExit(f"perfbench: {m['name']} was not measured")
    for m in spec[key]:
        if m["unit"] != metrics[m["name"]]["unit"]:
            raise SystemExit(f"perfbench: unit of {m['name']} differs from BENCHMARK.json")

    print(f"perfbench {args.workload} seed {args.seed}: {res['attempted']} ops, "
          f"{res['failed']} failed; setups {', '.join(f'{s:.2f}' for s in res['setup_runs_s'])} s")
    for f in res["failures"]:
        print(f"  check failed: {f}")
    print_metrics("end-to-end" if not args.trace else "per-layer", metrics)
    print_metrics("also measured", res["extra"])

    last = os.path.join(build.build_dir(ROOT), "last", f"{args.workload}-seed{args.seed}.json")
    if not args.trace:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(res["extra"], f)
    elif os.path.exists(last):
        with open(last) as f:
            base = json.load(f)["op_p50_ms"]["value"]
        traced = metrics["trace.op_p50_ms"]["value"]
        print(f"tracing overhead: op p50 {traced:.1f} ms traced vs {base:.1f} ms untraced "
              f"(same workload and seed): {100 * (traced / base - 1):+.1f}%")

    print(json.dumps({
        "correct": bool(res["correct"]), "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": m["value"], "unit": m["unit"]} for n, m in metrics.items()},
    }))


def selfcheck(spec):
    """Tiny runs of every workload: clean must pass, corrupted must fail."""
    classpath = build.build(ROOT)
    ok = True
    for w in WORKLOADS:
        clean = launch(classpath, w, 1, 1, 1, sizes="tiny")
        names = [m["name"] for m in spec["per_layer"]]
        if list(clean["per_layer"]) != names:
            print(f"{w}: per-layer metrics differ from BENCHMARK.json")
            ok = False
        print_metrics(f"{w} (tiny) end-to-end", clean["end_to_end"])
        print_metrics(f"{w} (tiny) also measured", clean["extra"])
        print_metrics(f"{w} (tiny) per-layer", clean["per_layer"])
        bad = launch(classpath, w, 1, 1, 0, sizes="tiny", corrupt=True)
        caught = bad["failed"] > 0 and not bad["correct"]
        print(f"{w}: clean run failed {clean['failed']} of {clean['attempted']}; corrupted run "
              f"failed {bad['failed']} of {bad['attempted']} ({'caught' if caught else 'NOT caught'})")
        for f in bad["failures"]:
            print(f"  corrupted: {f}")
        ok = ok and clean["failed"] == 0 and caught
    print("self-check", "passed" if ok else "FAILED")
    return 0 if ok else 1


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selfcheck", action="store_true")
    args = p.parse_args()
    # a terminated run still stops its JVM and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        raise SystemExit("perfbench: BENCHMARK.json is missing")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.selfcheck:
        return selfcheck(spec)
    if args.workload is None:
        p.error("--workload is required")
    run(args, spec)
    return 0


if __name__ == "__main__":
    sys.exit(main())
