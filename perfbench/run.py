#!/usr/bin/env python3
"""Benchmark of the graft extraction job (ExtractJob.runWithManifests).

Run from the root of a checkout:

    python3 perfbench/run.py --workload extract_transcript_mix --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --selftest

Each workload is one closed-loop client (one job at a time) in a Spark
local[4] JVM. With --trace 0 the run prints the end-to-end metrics of
BENCHMARK.json. With --trace 1 it prints the per-layer metrics instead:
every second call is traced, a single-threaded kernel sample is timed, and
a second JVM at local[1] on the same corpus gives scaling_eff_1v4.
The last line of standard output is one JSON object; the full result
(make-up, settings, every call, spans) is written under .bench_build/perfbench/.

The engine is compiled from the checkout's src/main with perfbench/build.sbt
on first use and again whenever a source file changes.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SPARK_JARS = "/opt/spark/jars"
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def load(path):
    with open(path) as f:
        return json.load(f)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("engine sources missing: %s" % os.path.join(ROOT, "src", "main", "scala", "graft"))
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=840)
    if rc != 0:
        raise BenchError("build failed (exit %d); last lines of %s:\n%s" % (rc, log, tail(log, 30)))
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def tail(path, n):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def free_mb(path):
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize / 1e6


def jvm_flags(spec):
    flags = list(spec["jvm"]) + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        flags += ["--add-opens", p + "=ALL-UNNAMED"]
    return flags


def run_jvm(spec, work, phase, args, seconds, cores):
    """Runs one benchmark JVM; returns (its result, its peak RSS in MB)."""
    result = os.path.join(work, "result-%s.json" % phase)
    cmd = ["java"] + jvm_flags(spec) + [
        "-cp", CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*"), "perfbench.Main",
        "--phase", phase, "--cores", str(cores), "--seconds", "%.3f" % seconds,
        "--work", work, "--result", result] + args
    log = os.path.join(work, "jvm-%s.log" % phase)
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            _, status, usage = os.wait4(p.pid, 0)
        except BaseException:
            p.kill()
            p.wait()
            raise
        p.returncode = os.waitstatus_to_exitcode(status)
    if p.returncode != 0 or not os.path.exists(result):
        raise BenchError("%s JVM failed (exit %d); last lines of %s:\n%s"
                         % (phase, p.returncode, log, tail(log, 40)))
    return load(result), usage.ru_maxrss / 1024.0


def check_makeup(name, got, want):
    """Differences between the generated corpus and spec.json's make-up."""
    problems = []
    rows = got["rows"]
    total = sum(rows.values())
    if set(rows) != set(want["row_share"]):
        problems.append("tools %s, expected %s" % (sorted(rows), sorted(want["row_share"])))
    for tool, (lo, hi) in want["row_share"].items():
        share = rows.get(tool, 0) / max(1, total)
        if not lo <= share <= hi:
            problems.append("%s row share %.3f outside [%s, %s]" % (tool, share, lo, hi))
        mean = got["bytes"].get(tool, 0) / max(1, rows.get(tool, 0))
        lo_b, hi_b = want["mean_payload_bytes"][tool]
        if not lo_b <= mean <= hi_b:
            problems.append("%s mean payload %.0f B outside [%s, %s]" % (tool, mean, lo_b, hi_b))
    lo, hi = want["long_share"]
    if not lo <= got["long_share"] <= hi:
        problems.append("long-conversation share %.3f outside [%s, %s]" % (got["long_share"], lo, hi))
    if got["non_exact_rows"]:
        problems.append("%d rows without an exact golden (fixture rows)" % got["non_exact_rows"])
    return ["%s make-up: %s" % (name, p) for p in problems]


def bench(args):
    bm = load(os.path.join(ROOT, "BENCHMARK.json"))
    spec = load(os.path.join(HERE, "spec.json"))
    if args.workload not in spec["workloads"] or args.workload not in [w["name"] for w in bm["workloads"]]:
        raise BenchError("unknown workload %r" % args.workload)
    wl = spec["workloads"][args.workload]
    build()

    work = os.path.join(BUILD, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    medium = {"work_dir": work, "work_free_mb": free_mb(work)}
    if os.path.isdir("/dev/shm"):
        medium["dev_shm_free_mb"] = free_mb("/dev/shm")
    need = wl["corpus_mb"] * args.scale
    if medium["work_free_mb"] < need:
        raise BenchError("scratch medium %s has %.0f MB free, below the %s corpus size of %.0f MB"
                         % (work, medium["work_free_mb"], args.workload, need))

    size = {k: int(round(v * args.scale)) if k in ("convs", "long_convs") else v for k, v in wl["size"].items()}
    common = ["--workload", args.workload, "--seed", str(args.seed), "--shards", str(spec["shards"])]
    main_args = common + [
        "--trace", str(args.trace), "--warmup-calls", str(spec["warmup_calls"]),
        "--convs", str(size["convs"]), "--turns-per-conv", str(size["turns_per_conv"]),
        "--long-convs", str(size["long_convs"]), "--long-turns", str(size["long_turns"]),
        "--plant", args.plant, "--setup-reps", str(spec["setup_reps"]),
        "--kernel-sample", str(int(wl["kernel_sample"] * min(1.0, args.scale * 10))),
        "--kernel-reps", str(wl["kernel_reps"])]
    share = spec["main_share_of_seconds"] if args.trace else 1.0
    main, rss = run_jvm(spec, work, "main", main_args, args.seconds * share, spec["cores"])
    problems = check_makeup(args.workload, main["makeup"], wl["makeup"]) if args.scale == 1.0 else []
    scaling = None
    if args.trace:
        scaling_args = common + ["--trace", "0", "--warmup-calls", str(spec["scaling_warmup_calls"])]
        scaling, _ = run_jvm(spec, work, "scaling", scaling_args,
                             args.seconds * (1 - share), spec["scaling_cores"])

    phases = [main] + ([scaling] if scaling else [])
    attempted = sum(p["attempted"] for p in phases)
    failed = sum(p["failed_rows"] for p in phases)
    wrong = sum(p["wrong_outputs"] for p in phases)
    units = {m["name"]: m["unit"] for m in bm["end_to_end"] + bm["per_layer"]}
    values = {
        "cpu_us_per_turn": main["cpu_us_per_turn"],
        "setup_s": main["setup_s"],
        "peak_rss_mb": rss,
        "turns_per_s": main["turns_per_s"],
    }
    if args.trace:
        values.update(main["per_layer"])
        values["scaling_eff_1v4"] = main["turns_per_s"] / (spec["cores"] * scaling["turns_per_s"])
    names = [m["name"] for m in bm["per_layer" if args.trace else "end_to_end"]]
    metrics = {n: {"value": values[n], "unit": units[n]} for n in names}

    detail = {
        "args": vars(args), "nproc": os.cpu_count(), "jvm_flags": jvm_flags(spec),
        "scratch": medium, "size": size, "makeup_problems": problems,
        "wrong_outputs": wrong, "failed_share": failed / attempted,
        "main": main, "scaling": scaling, "metrics": metrics,
        "spans": os.path.join(work, "spans-main.json"),
    }
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    shutil.rmtree(os.path.join(work, "corpus"), ignore_errors=True)
    mk = main["makeup"]
    print("%s make-up: rows %s, payload bytes %s, long-conversation share %.3f; free MB: %s"
          % (args.workload, mk["rows"], mk["bytes"], mk["long_share"],
             {k: round(v) for k, v in medium.items() if k.endswith("_mb")}))
    for p in problems:
        print(p)
    print("%s seed=%d: %d turns, %d calls, wrong_outputs=%d, failed_share=%.4f, detail in %s"
          % (args.workload, args.seed, main["turns"], main["calls"], wrong,
             failed / attempted, os.path.relpath(os.path.join(work, "result.json"), ROOT)))
    # wall throughput is shown on every run, though only trace=1 reports it
    for n in names if "turns_per_s" in names else names + ["turns_per_s"]:
        print("  %-40s %14.4f %s" % (n, values[n], units[n]))
    correct = wrong == 0 and failed == 0 and not problems
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def selftest():
    """Tiny runs of every workload: every metric printed with its unit, and
    planted faults caught by the output checks."""
    bm = load(os.path.join(ROOT, "BENCHMARK.json"))
    spec = load(os.path.join(HERE, "spec.json"))
    failures = ["per-layer metric %s has no entry in spec.json moves" % m["name"]
                for m in bm["per_layer"] if m["name"] not in spec["moves"]]

    def run(workload, trace, plant):
        a = argparse.Namespace(workload=workload, seed=7, seconds=2.0, trace=trace, plant=plant, scale=0.05)
        return bench(a), load(os.path.join(BUILD, workload, "result.json"))

    for w in [x["name"] for x in bm["workloads"]]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            res, _ = run(w, trace, "none")
            for m in bm[group]:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
                    failures.append("%s trace=%d: metric %s missing or without unit %s" % (w, trace, m["name"], m["unit"]))
            if not res["correct"] or res["failed"]:
                failures.append("%s trace=%d: clean run reported incorrect" % (w, trace))
        res, detail = run(w, 0, "poison")
        if not (detail["failed_share"] > 0 and not res["correct"]):
            failures.append("%s: planted poison payload did not raise failed_share" % w)
        res, detail = run(w, 0, "wrong_golden")
        if not (detail["wrong_outputs"] > 0 and not res["correct"]):
            failures.append("%s: planted wrong golden did not raise wrong_outputs" % w)
    for f in failures:
        print("SELFTEST FAIL: " + f)
    print("SELFTEST %s" % ("FAIL" if failures else "PASS"))
    return 1 if failures else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", choices=("none", "poison", "wrong_golden"), default="none",
                    help="plant a fault the output checks must catch (self-test)")
    ap.add_argument("--scale", type=float, default=1.0, help="corpus size factor (self-test)")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops and reaps its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.selftest:
            return selftest()
        if not args.workload:
            ap.error("--workload is required")
        result = bench(args)
    except BenchError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
