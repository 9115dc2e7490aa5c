#!/usr/bin/env python3
"""Benchmark entry point for the Spark dedup engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine together with the harness in perfbench/ (sbt, offline;
skipped when the sources are unchanged since the last build), runs one
workload in one JVM at local[4], checks its outputs, prints every metric
with its unit, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer
ones; a traced run also writes its spans to .bench_build/spans-*.jsonl.
Everything it writes stays under .bench_build/ and perfbench/ build dirs.
"""

import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JVM_TIMEOUT_S = 165

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# JDK 17 needs these for Spark outside spark-submit (the same list the
# engine's build.sbt passes to its forked runs).
ADD_OPENS = [
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


# ---------------------------------------------------------------- helpers


def median(xs):
    """Median of a non-empty sequence."""
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartile_spread(xs):
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives them."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)


def validate_spec(spec):
    """Return a list of problems with BENCHMARK.json's metric declarations."""
    problems = []
    seen = set()
    for group in ("workloads", "end_to_end", "per_layer"):
        for m in spec.get(group, []):
            name = m.get("name", "")
            if not NAME_RE.match(name):
                problems.append(f"bad name {name!r} in {group}")
            if name in seen:
                problems.append(f"name {name!r} used twice")
            seen.add(name)
            if group != "workloads" and not UNIT_RE.match(m.get("unit", "")):
                problems.append(f"bad unit {m.get('unit')!r} for {name}")
    if not any(m["name"] == "setup_s" for m in spec.get("end_to_end", [])):
        problems.append("end_to_end lacks setup_s")
    return problems


def end_to_end_values(raw):
    """End-to-end metric values from the harness's raw samples."""
    pass_s = median(raw["pass_s"])
    return {
        "pass_s": pass_s,
        "items_per_s": raw["items"] / pass_s,
        "setup_s": median(raw["setup_s"]),
        "recall": raw["recall"],
        "precision": raw["precision"],
    }


def per_layer_values(raw, declared):
    """Per-layer values: the harness's own, plus derived ones; layers the
    workload does not run read 0. Raises on any other missing metric."""
    vals = {k: v["value"] for k, v in raw["per_layer"].items()}
    pass_s = median(raw["pass_s"])
    vals["host.probe_s"] = median(raw["probe_s"])
    vals["trace.pass_s"] = raw["traced_pass_s"]
    vals["trace.overhead_ratio"] = raw["traced_pass_s"] / pass_s - 1.0
    out = {}
    for name in declared:
        if name in vals:
            out[name] = vals[name]
        elif any(name.startswith(p) for p in raw["not_run"]):
            out[name] = 0.0
        else:
            raise KeyError(f"harness reported no value for {name}")
    return out


def result_line(correct, attempted, failed, values, units):
    """The final stdout line: one JSON object, metrics with their units."""
    metrics = {}
    for name, v in values.items():
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"metric {name} is not a finite number: {v!r}")
        metrics[name] = {"value": float(v), "unit": units[name]}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})


# ------------------------------------------------------------------ build


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true"]
    # resolve from the pre-warmed cache through the configured mirror
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts[0] and os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    # keep sbt's own scratch (boot lock, JNA natives, perf counters) out of
    # the home and temp dirs
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts += ["-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
             f"-Djna.tmpdir={tmp}", "-XX:-UsePerfData"]
    env["SBT_OPTS"] = " ".join(filter(None, opts))
    print("perfbench: building engine + harness (sbt compile)", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


# -------------------------------------------------------------------- run


def run_jvm(args, out, spans, work):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME must name the Spark installation")
    local = os.path.join(BUILD, "spark-local")
    tmp = os.path.join(BUILD, "tmp")
    for d in (local, tmp, work):
        os.makedirs(d, exist_ok=True)
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*"),
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out, "--spans", spans, "--work", work,
    ]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"workload did not finish within {JVM_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(out):
        fail(f"harness JVM exited with code {code}")


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    problems = validate_spec(spec)
    if problems:
        fail("; ".join(problems))
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload!r}")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    os.makedirs(BUILD, exist_ok=True)
    build()

    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    out = os.path.join(BUILD, f"result-{tag}.json")
    spans = os.path.join(BUILD, f"spans-{tag}.jsonl")
    work = os.path.join(BUILD, "work", tag)
    try:
        run_jvm(args, out, spans, work)
        with open(out) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(out):
            os.remove(out)

    group = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[group]}
    for name, v in raw["per_layer"].items():
        if name in units and v["unit"] != units[name]:
            fail(f"{name}: harness unit {v['unit']} != declared {units[name]}")
    correct = not raw["errors"] and raw["failed"] == 0 and bool(raw["pass_s"])
    if raw["pass_s"]:
        values = (per_layer_values(raw, list(units)) if args.trace
                  else end_to_end_values(raw))
    else:
        values = {name: 0.0 for name in units}
    for err in raw["errors"]:
        print(f"ERROR {err}")
    print(f"# {args.workload} seed={args.seed} passes={len(raw['pass_s'])} "
          f"host_probe_s={','.join(f'{p:.3f}' for p in raw['probe_s'])}")
    for name, v in values.items():
        print(f"{name:40s} {v:16.6f} {units[name]}")
    print(result_line(correct, raw["attempted"], raw["failed"], values, units))


if __name__ == "__main__":
    main(sys.argv[1:])
