#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
runner with sbt (offline) into the checkout; later runs reuse the build
while its inputs and the compiled classes are unchanged. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}; with --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones.
See README.md in this directory.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_inputs  # noqa: E402
import metrics  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 780
CORES = len(os.sched_getaffinity(0))
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _files(path):
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)


def _source_digest():
    """Hash of the build's inputs: engine and runner sources and build
    definitions."""
    h = hashlib.sha256()
    paths = []
    for base in (ROOT, HERE):
        proj = os.path.join(base, "project")
        paths += [os.path.join(base, "build.sbt"), os.path.join(base, "src", "main")]
        if os.path.isdir(proj):
            paths += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for r in paths:
        for p in _files(r) if os.path.exists(r) else []:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _classpath_state(classpath):
    """Hash of the name, size and mtime of every file on the classpath, so
    that classes rewritten by another build (an sbt compile at the root
    after a checkout) are not mistaken for this source tree's."""
    h = hashlib.sha256()
    for entry in classpath.split(os.pathsep):
        for p in _files(entry) if os.path.exists(entry) else [entry]:
            st = os.stat(p) if os.path.exists(p) else None
            h.update(f"{p}\0{st and st.st_size}\0{st and st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """The runtime classpath, building with sbt unless the build's inputs
    and the classpath's files are as the last build left them."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need} missing under {ROOT})")
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    digest = _source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if (saved.get("digest") == digest
                and saved.get("state") == _classpath_state(saved["classpath"])):
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=BUILD_TIMEOUT_S)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        fail(f"build failed (see {os.path.join(BUILD_DIR, 'build.log')})")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath,
                   "state": _classpath_state(classpath)}, f)
    return classpath


def run_jvm(classpath, args, run_dir, deadline):
    """Start the runner; returns (seconds from process start to the ready
    marker, exit code)."""
    tmp = os.path.join(run_dir, "tmp")
    work = os.path.join(run_dir, "work")
    for d in (tmp, work):
        os.makedirs(d, exist_ok=True)
    cmd = ["java"]
    for o in JAVA_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
    # the heap grows from 1 GB as the program needs, so that peak_rss_mb
    # follows the program's memory; a smaller start heap costs ~20 % more
    # CPU in young collections while it grows (README.md, Host and heap)
    cmd += ["-Xms1g", f"-Xmx{heap}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dderby.system.home={run_dir}",
            "-cp", classpath, "perfbench.Runner", "--work", work] + args
    ready = None
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        t0 = time.monotonic()
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                             stderr=log, text=True)
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), p.kill)
        timer.start()
        try:
            for line in p.stdout:
                if ready is None and line.strip() == "PERFBENCH_READY":
                    ready = time.monotonic() - t0
            code = p.wait()
        finally:
            timer.cancel()
    return ready, code


def end_to_end(res, ready, failed, attempted):
    """{metric: (value, unit, samples, note)}. The tail percentile is None
    when the run has fewer than eleven timed samples."""
    lat = [s["build_s"] + s["exec_s"] for s in res["samples"]]
    n = len(lat)
    tail = metrics.tail_percentile(lat)
    completed = max(1, attempted - failed)
    return {
        "throughput_qpm": (n / res["window_s"] * 60, "1/min", n, ""),
        "latency_p50_s": (statistics.median(lat), "s", n, ""),
        "latency_tail_s": (tail[1], "s", n, f"p{tail[0]}") if tail else
        (None, "s", n, "no percentile has 10 samples beyond it"),
        "failed_frac": (failed / attempted, "ratio", attempted, ""),
        "setup_s": (ready, "s", 1, "JVM start to session ready"),
        "cold_pass_s": (res["cold_pass_s"], "s", 1, ""),
        "cpu_s_per_query": (res["cpu_s"] / completed, "s", completed, ""),
        "peak_rss_mb": (res["vmhwm_kb"] / 1024.0, "MB", 1, "VmHWM"),
    }


def per_layer(res, cores):
    """Totals over the queries of the one traced pass, except where the
    README says otherwise (set-up, peaks, per-call kernels)."""
    tq = res["traced_queries"]
    traced_wall = [p["wall_s"] for p in res["passes"] if p["traced"]]
    base = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    samples = {(s["pass"], s["query"]): s for s in res["samples"]}

    def total(key):
        return sum(q[key] for q in tq)

    def sample_total(key):
        return sum(samples[(q["pass"], q["query"])][key] for q in tq)

    fps = {}
    for f in res["fingerprints"]:
        fps.setdefault(f["query"], {})[f["pass"]] = f["fingerprint"]
    order_dep = metrics.order_dependent(fps)
    persist = res["persist"]
    stream = res["stream"]
    m = {
        "session.build_s": (res["session_build_s"], "s"),
        "sources.register_s": (res["register_s"], "s"),
        "sources.write_s": (sample_total("write_s"), "s"),
        "sources.input_bytes": (total("input_bytes"), "B"),
        "sources.input_rows": (total("input_rows"), "count"),
        "sources.output_bytes": (total("output_bytes"), "B"),
        "queries.build_s": (sample_total("build_s"), "s"),
        "queries.build_jobs": (total("build_jobs"), "count"),
        "catalyst.plan_s": (total("plan_s"), "s"),
        "plan.exchanges": (total("exchanges"), "count"),
        "plan.scans": (total("scans"), "count"),
        "plan.sorts": (total("sorts"), "count"),
        "plan.broadcasts": (total("broadcasts"), "count"),
        "plan.codegen_stages": (total("codegen_stages"), "count"),
        "plan.order_dependent": (len(order_dep), "count"),
        "sched.jobs": (total("jobs"), "count"),
        "sched.stages": (total("stages"), "count"),
        "sched.tasks": (total("tasks"), "count"),
        "sched.overhead_s": (sum(
            samples[(q["pass"], q["query"])]["exec_s"] - q["exec_task_s"] / cores
            for q in tq), "s"),
        "exec.task_s": (total("task_s"), "s"),
        "exec.cpu_s": (total("cpu_s"), "s"),
        "exec.gc_s": (total("gc_s"), "s"),
        "exec.shuffle_read_bytes": (total("shuffle_read_bytes"), "B"),
        "exec.shuffle_write_bytes": (total("shuffle_write_bytes"), "B"),
        "exec.spill_bytes": (total("spill_bytes"), "B"),
        "exec.peak_mem_mb": (max(q["peak_mem_mb"] for q in tq), "MB"),
        "exec.exchange_rows": (total("exchange_rows"), "count"),
        "persist.frames": (sum(p["frames"] for p in persist), "count"),
        "persist.storage_mb": (max(p["storage_mb"] for p in persist), "MB"),
        "persist.release_s": (sum(p["release_s"] for p in persist), "s"),
        "stream.batches": (stream["batches"], "count"),
        "stream.state_rows": (stream["state_rows"], "count"),
        "stream.state_mem_bytes": (stream["state_mem_bytes"], "B"),
        "stream.add_batch_s": (stream["add_batch_s"], "s"),
        "stream.wal_commit_s": (stream["wal_commit_s"], "s"),
        "driver.gc_s": (res["driver_gc_s"] / len(res["passes"]), "s"),
        "driver.heap_peak_mb": (res["heap_peak_mb"], "MB"),
        "host.calib_s": (res["calib_s"], "s"),
        "trace.overhead_frac": (statistics.mean(traced_wall)
                                / statistics.mean(base) - 1, "ratio"),
    }
    for k, ns in sorted(res["kernels_ns"].items()):
        m[f"functions.{k}.ns"] = (ns, "ns")
    return m, order_dep


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive_sql", "multi_job", "heavy_iterative"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    classpath = build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    if not os.path.isdir(DATA_DIR):
        fail(f"input tables not found under {DATA_DIR}")
    import oracle  # needs the engine's tools/oracle_check.py
    inputs = os.path.join(BUILD_DIR, "inputs", f"seed-{a.seed}")
    gen_inputs.generate(a.seed, inputs)
    run_dir = os.path.join(BUILD_DIR, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, "out")
    os.makedirs(out)
    ready, code = run_jvm(classpath, [
        "--cores", str(CORES), "--workload", a.workload,
        "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", DATA_DIR, "--inputs", inputs,
        "--out", out], run_dir, deadline)
    t_jvm = time.monotonic() - t_start
    result_path = os.path.join(out, "result.json")
    if code != 0 or ready is None or not os.path.exists(result_path):
        fail(f"runner exited with code {code} "
             f"(see {os.path.join(run_dir, 'jvm.log')})")
    with open(result_path) as f:
        res = json.load(f)

    # ---- output check, outside the timed window
    checked = {s["query"]: s["rows"] for s in res["checked"] if not s.get("error")}
    check_failures = {s["query"]: s["error"] for s in res["checked"] if s.get("error")}
    names = list(checked)
    check_failures.update(oracle.check(
        os.path.join(out, "results"), res["oracle"], names, set(res["seeded"]),
        DATA_DIR, inputs, os.path.join(BUILD_DIR, "oracle-cache")))
    unchecked = sorted(q for q in checked if q not in res["oracle"])
    samples = res["samples"]
    if a.trace:
        samples = [s for s in samples if any(
            p["pass"] == s["pass"] and p["traced"] for p in res["passes"])]
    failed, reasons = metrics.count_failures(samples, checked, check_failures)
    attempted = len(samples)
    correct = failed == 0 and not check_failures

    report = {"workload": a.workload, "seed": a.seed, "cores": CORES,
              "run_wall_s": {"to_jvm_exit": t_jvm,
                             "total": time.monotonic() - t_start},
              "scale": "sf0.01", "attempted": attempted, "failed": failed,
              "failed_frac": failed / attempted, "failures": reasons,
              "check_failures": check_failures,
              "setup_s": {"ready": ready, "session_build": res["session_build_s"],
                          "register": res["register_s"]},
              "checked_by_row_count_only": unchecked}
    if a.trace == 0:
        e2e = end_to_end(res, ready, failed, attempted)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            gated = [m["name"] for m in json.load(f)["end_to_end"]]
        out_metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in gated}
        for k, (v, unit, n, note) in e2e.items():
            shown = "n/a" if v is None else f"{v:.4f}"
            print(f"{k:<20} {shown:>14} {unit:<6} n={n}"
                  + (f" ({note})" if note else ""))
        report["end_to_end"] = {k: {"value": v, "unit": unit, "n": n, "note": note}
                                for k, (v, unit, n, note) in e2e.items()}
    else:
        layers, order_dep = per_layer(res, CORES)
        no_scan = sorted({q["query"] for q in res["traced_queries"]
                          if q["query"] in res["reads_parquet"] and q["scans"] == 0})
        if no_scan:
            correct = False
            check_failures.update({q: "plan.scans == 0 on a parquet-reading query"
                                   for q in no_scan})
            print(f"perfbench: SELF-CHECK FAILED: plan.scans == 0 for "
                  f"parquet-reading queries {no_scan}", file=sys.stderr)
        out_metrics = {k: {"value": v[0], "unit": v[1]} for k, v in layers.items()}
        for k, v in layers.items():
            print(f"{k:<28} {v[0]:>16.4f} {v[1]}")
        report["per_layer"] = out_metrics
        report["order_dependent_queries"] = order_dep
        report["spans"] = os.path.relpath(os.path.join(out, "spans.jsonl"), ROOT)
    for q, why in sorted(reasons.items()):
        print(f"FAILED {q}: {why}")
    print(f"output check: {'PASS' if correct else 'FAIL'} "
          f"({len(names) - len(unchecked)} queries against DuckDB, "
          f"{len(unchecked)} by row count only); failed {failed}/{attempted}; "
          f"run {time.monotonic() - t_start:.1f} s")
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
