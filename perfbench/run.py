"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload etl_tracks --seed 1 --seconds 15 --trace 0

Builds the program if needed (perfbench/build.py), then runs one JVM
that sets up the workload, warms it up and measures it for --seconds
in a closed loop. Prints every metric as `metric <name> <value> <unit>`
and, as the last line, one JSON object with the check result. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (see perfbench/README.md).
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
import stats  # noqa: E402

WORKLOADS = ("etl_tracks", "suite_floor")
SUITE = os.path.join(build.BENCH_DIR, "suite_floor.json")
JVM_TIMEOUT_S = 170

# Same module opens and JVM flags as the project's build.sbt.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def declared_metrics(kind):
    """(name, unit) of BENCHMARK.json's `end_to_end` or `per_layer` metrics."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def jvm_command(cp, argv):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # a fixed, pre-touched heap: all of it is resident from the start,
    # so the peak RSS less the heap is the native memory's peak
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", "-Xss8m"] +
            opens +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Djava.io.tmpdir=" + argv["tmp"], "-cp", cp, argv.pop("main")] +
            [x for k, v in argv.items() if k != "tmp" for x in ("--" + k, str(v))])


def run_jvm(cp, argv, log_path, timeout=JVM_TIMEOUT_S):
    """Run one JVM to completion; raises on a non-zero exit or timeout."""
    os.makedirs(argv["tmp"], exist_ok=True)
    with open(log_path, "w") as log:
        # few malloc arenas: native memory then depends on what the JVM
        # allocates, not on how many threads happened to call malloc
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        p = subprocess.Popen(jvm_command(cp, argv), stdout=log, stderr=subprocess.STDOUT,
                             env=env)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError("JVM timed out")
    if rc != 0:
        with open(log_path, errors="replace") as f:
            raise RuntimeError("JVM exited %d:\n%s" % (rc, f.read()[-3000:]))


def ensure_corpus(cp):
    """The suite corpus, generated once per build; returns its directory."""
    corpus = os.path.join(build.BUILD_DIR, "corpus")
    stamp_path = os.path.join(build.BUILD_DIR, "stamp")
    with open(stamp_path) as f:
        stamp = f.read()
    done = os.path.join(corpus, "stamp")
    if os.path.isfile(done) and open(done).read() == stamp:
        return corpus
    shutil.rmtree(corpus, ignore_errors=True)
    work = os.path.join(build.BUILD_DIR, "corpus-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run_jvm(cp, {"main": "perfbench.Main", "tmp": os.path.join(work, "tmp"), "mode": "corpus",
                 "work": work, "corpus": corpus}, os.path.join(work, "jvm.log"))
    shutil.rmtree(work, ignore_errors=True)
    with open(done, "w") as f:
        f.write(stamp)
    return corpus


def pass_seconds(raw, traced):
    return stats.median([x["seconds"] for x in raw["passes"] if x["traced"] == traced])


def memory(raw):
    """(native, live heap) in MB: the peak RSS less the fixed heap, and
    the heap in use after a full collection at the end of the run."""
    return raw["vm_hwm_mb"] - raw["heap_committed_mb"], raw["heap_live_mb"]


def end_to_end(raw):
    ops = [o for o in raw["ops"] if not o["traced"]]
    secs = [o["seconds"] for o in ops]
    p = stats.tail_percentile(raw["nominal_ops"])
    values = {
        "setup_s": raw["setup_s"],
        "pass_s": pass_seconds(raw, False),
        "op_p50_s": stats.median(secs),
        "op_tail_s": stats.nearest_rank(secs, p),
        "peak_rss_mb": sum(memory(raw)),
    }
    note = "op_tail_s is p%s of %d operations (fixed count %d leaves >= 10 beyond it)" % (
        p, len(secs), raw["nominal_ops"])
    return values, note


def median_or_0(xs):
    return stats.median(xs) if xs else 0.0


def per_layer(raw):
    """The JVM's per-layer values, with its sample lists reduced to
    medians, and the metrics derived from pass times and the probes."""
    values = {k: median_or_0(v) if isinstance(v, list) else v
              for k, v in raw["layers"].items() if k != "operators.task_skew"}
    # max over median task time in each operation's longest stage
    values["operators.task_skew"] = median_or_0(
        [max(t) / stats.median(t) for t in raw["layers"]["operators.task_skew"]
         if t and stats.median(t) > 0])
    plain, traced = pass_seconds(raw, False), pass_seconds(raw, True)
    values["sources.placemarks_per_s"] = (
        values["sources.placemarks"] * raw["ops_per_pass"] / plain)
    values["trace.overhead_s"] = traced - plain
    values["trace.overhead_ratio"] = (traced - plain) / plain
    values["memory.native_mb"], values["memory.heap_live_mb"] = memory(raw)
    values["scratch.bytes"] = raw["scratch_bytes"]
    values["host.canary_s"] = raw["canary_s"]
    return values


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
        corpus = ensure_corpus(cp) if a.workload.startswith("suite") else None
    except (build.BuildError, RuntimeError) as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2

    run_dir = os.path.join(build.BUILD_DIR, "runs", "%s-%d-%d-%d" % (
        a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    raw_path = os.path.join(run_dir, "raw.json")
    launch_ms = int(time.time() * 1000)
    argv = {"main": "perfbench.Main", "tmp": os.path.join(run_dir, "tmp"),
            "mode": "run", "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "launch-ms": launch_ms, "work": run_dir, "out": raw_path}
    if corpus:
        argv.update(suite=SUITE, corpus=corpus)
    try:
        run_jvm(cp, argv, os.path.join(run_dir, "jvm.log"))
        with open(raw_path) as f:
            raw = json.load(f)
    except (RuntimeError, OSError, ValueError) as e:
        print("run failed: %s" % e, file=sys.stderr)
        return 1

    ops = raw["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    for o in ops:
        if not o["ok"]:
            print("failed op %s: %s" % (o["name"], o["error"][:300]))
    print("check %s: %d operations, %d failed, failed_ratio %.6f" % (
        "ok" if failed == 0 else "FAILED", len(ops), failed, failed / max(len(ops), 1)))
    print("set-up: session %.3f s, inputs %.3f s, warm-up %.3f s in passes of %s s" % (
        (raw["session_ms"] - launch_ms) / 1e3, (raw["inputs_ms"] - raw["session_ms"]) / 1e3,
        (raw["first_op_ms"] - raw["inputs_ms"]) / 1e3, raw["warmup_passes"]))
    print("measured passes: %s s" % ["%.3f%s" % (x["seconds"], "T" if x["traced"] else "")
                                     for x in raw["passes"]])
    print("host.canary_s %.6f  scratch.bytes %d" % (raw["canary_s"], raw["scratch_bytes"]))
    print("memory: native %.1f MB, live heap %.1f MB, heap reserved %.0f MB" % (
        memory(raw) + (raw["heap_committed_mb"],)))

    if a.trace:
        values = per_layer(raw)
        metrics = {k: {"value": values[k], "unit": u} for k, u in declared_metrics("per_layer")}
        traces = os.path.join(build.BUILD_DIR, "traces")
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.isfile(spans):
            shutil.move(spans, os.path.join(traces, "%s-%d.jsonl" % (a.workload, a.seed)))
    else:
        values, note = end_to_end(raw)
        print(note)
        metrics = {k: {"value": values[k], "unit": u} for k, u in declared_metrics("end_to_end")}
    for k, m in metrics.items():
        print("metric %s %r %s" % (k, m["value"], m["unit"]))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and len(ops) > 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
