#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload vc_full_load --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. It compiles the engine and the harness
(perfbench/build.py), runs perfbench.Main in a fresh JVM on
local[<nproc>] with a fixed heap, checks every op's output, and prints
each metric with its unit. The last stdout line is one JSON object with
the keys correct, attempted, failed and metrics: the end-to-end metrics
with --trace 0, the per-layer metrics of a traced run with --trace 1.
The exit code is non-zero when a check failed or the run broke.

Scratch files live in .bench_work/ and are removed at the end; the result
file and, for a traced run, the span file stay in .bench_out/.

    python3 perfbench/run.py --record-expected
rewrites perfbench/expected/corpus_dedup.tsv from the canonical corpus.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

HERE = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
HEAP = "3g"
JVM_TIMEOUT_S = 170
# input sizes, gate list and timed-op counts are constants of the workloads
# in perfbench/src/Main.scala
WORKLOADS = ("corpus_dedup", "vc_full_load")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def java_cmd(classes, main_class, work):
    """The JVM command line every run uses: fixed heap, touched in full at start so
    peak RSS moves with native memory rather than with GC timing; UTC; scratch in
    `work`."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Duser.timezone=UTC",
             "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]), main_class])


def java_env():
    return dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))


def run_jvm(classes, workload, seed, seconds, trace, work, out_dir, record):
    result_file = os.path.join(out_dir, "result.json")
    cmd = java_cmd(classes, "perfbench.Main", work) + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--work", work, "--out", result_file,
        "--launch-ms", str(int(time.time() * 1000)), "--record", "1" if record else "0"]
    env = java_env()
    with open(os.path.join(out_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"the JVM ran past {JVM_TIMEOUT_S} s and was stopped")
    if code != 0:
        with open(os.path.join(out_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"the JVM exited with code {code}:\n{tail}")
    if not os.path.exists(result_file):  # recording writes no result
        return None
    with open(result_file) as f:
        return json.load(f)


def end_to_end(res):
    untraced = [o for o in res["ops"] if not o["traced"]]
    pass_s, n = metrics.median_of([o["wall_s"] for o in untraced])
    return {
        "setup_s": (res["setup_s"], "s", "JVM and session start, median of "
                    f"{len(res['setup']['prepare_s'])} input set-ups, one warm-up op"),
        "pass_s": (pass_s, "s", f"median of {n} ops"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", "VmHWM of the benchmark JVM"),
    }


def bytes_per_row(res):
    """vc_full_load's write and stored bytes per row, printed but not in the
    result line: corpus_dedup keeps no warehouse to measure them on."""
    sized = [o["sizes"] for o in res["ops"] if not o["traced"] and o["sizes"]]
    if not sized:  # corpus_dedup, or every op failed its checks
        return {}
    n = len(sized)
    write, _ = metrics.median_of([s["write_bytes"] / s["rows_in"] for s in sized])
    stored, _ = metrics.median_of([s["stored_bytes"] / s["rows_stored"] for s in sized])
    return {"write_bytes_per_row": (write, "B/row", f"task output bytes over staging rows, median of {n} ops"),
            "stored_bytes_per_row": (stored, "B/row", f"warehouse bytes over warehouse rows, median of {n} ops")}


def traced(res):
    with open(res["spans_file"]) as f:
        spans = json.load(f)
    selfs = metrics.self_times(spans)
    for s in spans:
        s["self_ms"] = selfs[s["id"]]
    with open(res["spans_file"], "w") as f:
        json.dump(spans, f)
    values = {k: (v, unit_of(k), "median over traced ops")
              for k, v in metrics.per_layer(spans, int(res["stamp"]["task_threads"])).items()}
    walls = lambda t: [o["wall_s"] for o in res["ops"] if o["traced"] == t]
    overhead = metrics.median_of(walls(True))[0] / metrics.median_of(walls(False))[0] - 1
    values["trace_overhead"] = (overhead, unit_of("trace_overhead"),
                                "traced median over untraced median, minus 1")
    return values


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", ".util", "_overhead")):
        return "ratio"
    return "count"


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-expected", action="store_true")
    a = p.parse_args(argv)
    if a.record_expected:
        a.workload, a.trace = "corpus_dedup", 0
    elif not a.workload:
        p.error("--workload is required")

    try:
        classes, source_hash = build.build()
    except RuntimeError as e:
        print(f"perfbench: cannot build the program: {e}", file=sys.stderr)
        return 2
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out_dir = os.path.join(".bench_out", tag)
    work = os.path.join(".bench_work", f"{tag}-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    try:
        res = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace == 1, work, out_dir,
                      a.record_expected)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.record_expected:
        print("recorded the expected corpus_dedup digests")
        return 0

    ops = [{"index": 0, "traced": False, "failures": res["setup"]["warmup_failures"]}] + res["ops"]
    failed = [o for o in ops if o["failures"]]
    stamp = dict(res["stamp"], seed=a.seed, workload=a.workload, heap=HEAP,
                 git_commit=git_commit(), source_hash=source_hash)
    print("stamp " + json.dumps(stamp, sort_keys=True))
    for o in failed:
        for f in o["failures"]:
            print(f"FAILED op {o['index']}: {f}")
    print(f"failed_op_ratio {len(failed)}/{len(ops)} = {len(failed) / len(ops):.4f} ratio")
    values = traced(res) if a.trace else end_to_end(res)
    shown = dict(values, **({} if a.trace else bytes_per_row(res)))
    for name, (v, unit, how) in shown.items():
        print(f"{name} {v:.6g} {unit} ({how})")
    as_json = lambda vals: {k: {"value": v, "unit": u} for k, (v, u, _) in vals.items()}
    with open(os.path.join(out_dir, "result.json"), "w") as f:
        json.dump(dict(res, stamp=stamp, metrics=as_json(shown)), f, indent=1)
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": as_json(values)}))
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
