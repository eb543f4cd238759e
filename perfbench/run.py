#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

Usage (from the checkout root):

    python3 perfbench/run.py --workload scd_ingest --seed 1 --seconds 10 --trace 0

``--workload all`` runs every workload in turn, one JVM each. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The exit code is 0 only when every
operation succeeded and every correctness check passed.

The first run in a checkout compiles the library and the benchmark (see
``build.py``); later runs reuse the build. Everything the run writes stays
under ``.bench_build/`` at the checkout root; the traced run's spans land
in ``.bench_build/results/``.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("scd_ingest", "corpus_curation", "lake_read")
HEAP = "2g"
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_one(cp, workload, seed, seconds, trace):
    """Run one workload in its own JVM; return (exit code, result line)."""
    base = os.path.join(build.ROOT, ".bench_build")
    work = os.path.join(base, "work", f"{workload}-{seed}-{os.getpid()}")
    tmp = os.path.join(base, "tmp", f"{workload}-{seed}-{os.getpid()}")
    results = os.path.join(base, "results")
    for d in (work, tmp, results):
        os.makedirs(d, exist_ok=True)
    # class-data sharing: the first run dumps the classes it loaded,
    # later runs map them instead of loading them (a few seconds of
    # JVM start-up less per run; no effect on what is measured)
    dump = f"{build.CDS}.{os.getpid()}"
    cds = (f"-XX:SharedArchiveFile={build.CDS}" if os.path.isfile(build.CDS)
           else f"-XX:ArchiveClassesAtExit={dump}")
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
           "-XX:-UsePerfData", "-XX:ReservedCodeCacheSize=256m", cds,
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores()), "--heap", HEAP,
            "--work", work, "--results", results]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    last = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            cwd=build.ROOT)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"[run] {workload}: timed out after {RUN_TIMEOUT_S}s",
              file=sys.stderr)
        return 1, None
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.isfile(dump):
            if proc.returncode == 0 and not os.path.isfile(build.CDS):
                os.replace(dump, build.CDS)
            else:
                os.remove(dump)
    for line in out.splitlines():
        if line.startswith("{") and '"metrics"' in line:
            last = line
        else:
            print(line, flush=True)
    if last is None and proc.returncode == 0:
        return 1, None
    return proc.returncode, last


def merge(results):
    """Fold per-workload result lines into one (for --workload all)."""
    parsed = [(name, json.loads(line)) for name, line in results]
    metrics = {}
    for name, p in parsed:
        for k, v in p["metrics"].items():
            metrics[f"{name}.{k}"] = v
    return json.dumps({
        "correct": all(p["correct"] for _, p in parsed),
        "attempted": sum(p["attempted"] for _, p in parsed),
        "failed": sum(p["failed"] for _, p in parsed),
        "metrics": metrics,
    })


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[run] build failed: {e}", file=sys.stderr)
        return 2
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    code, lines = 0, []
    for name in names:
        rc, line = run_one(cp, name, a.seed, a.seconds, a.trace)
        if line is None:
            print(f"[run] {name}: no result (exit {rc})", file=sys.stderr)
            return rc or 1
        code = code or rc
        lines.append((name, line))
    if len(lines) == 1:
        print(lines[0][1], flush=True)
    else:
        print(merge(lines), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
