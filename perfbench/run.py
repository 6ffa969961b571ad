#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_nightly --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds graft and the
harness with sbt (offline); later runs reuse the build while the sources
are unchanged. Inputs are generated from the seed and cached per seed. The
JVM (fixed heap, Spark local[4]) writes raw samples to a file; this script
checks every step's result against its DuckDB oracle (the comparison in
tools/check.py), prints one `name value unit` line per metric and, as the
last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer ones. Apart from sbt's target/ directories, everything it writes
stays under perfbench/.work.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = len(os.sched_getaffinity(0))
HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 850
SEEDS_KEPT = 6

# Input sizes per workload (rows). etl_nightly reads the star schema at
# about TPC-H sf0.01 with 20k events; curate_llm reads a 1k-document corpus
# and 1k embeddings.
STAR = dict(customer=1500, supplier=100, part=2000, orders=15000,
            lineitem=60000, users=150)
SIZES = {
    "etl_nightly": dict(STAR, events=20000, users=300, documents=200,
                        embeddings=200),
    "curate_llm": dict(STAR, events=1000, documents=1000, embeddings=1000),
}

# What the build reads: the two source trees, recursively, and the build
# definitions (top-level files) of both builds.
SOURCE_TREES = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
BUILD_DIRS = [ROOT, os.path.join(ROOT, "project"), HERE, os.path.join(HERE, "project")]

LAYERS = ["sources", "etl", "streaming", "timeseries", "analytics", "text",
          "dedup", "similarity", "curate"]
LAYER_METRICS = [("busy_s", "s"), ("jobs", "count"), ("tasks", "count"),
                 ("cpu_s", "s"), ("gc_s", "s"), ("sched_delay_s", "s"),
                 ("fetch_wait_s", "s"), ("shuffle_mb", "MB"),
                 ("spill_mb", "MB"), ("input_mb", "MB"), ("output_mb", "MB"),
                 ("empty_task_frac", "frac"), ("plan_ms", "ms")]
ENGINE_METRICS = [("codegen_ms", "ms"), ("codegen_classes", "count"),
                  ("failed_tasks", "count"), ("retried_stages", "count"),
                  ("trace_overhead_frac", "frac")]
END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("rows_per_s", "1/s"),
              ("latency_p50_ms", "ms"), ("latency_p90_ms", "ms"),
              ("peak_heap_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp():
    paths = [os.path.join(d, f) for top in SOURCE_TREES
             for d, _, fs in os.walk(top) for f in fs]
    paths += [os.path.join(d, f) for d in BUILD_DIRS for f in os.listdir(d)
              if f.endswith((".sbt", ".scala", ".properties"))]
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness. Returns the runtime classpath and
    graft's JVM options (javaOptions in its build.sbt, which the harness
    build takes over), both as sbt reports them."""
    built = os.path.join(WORK, "build.json")
    stamp = source_stamp()
    if os.path.exists(built):
        with open(built) as f:
            b = json.load(f)
        if b["stamp"] == stamp:
            return b["classpath"], b["java_options"]
    log("building graft and the harness with sbt")
    logf = os.path.join(WORK, "logs", "build.log")
    with open(logf, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath", "print javaOptions"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(logf) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cps = [ln for ln in lines if not ln.startswith(("[", "* ")) and ".jar" in ln]
    opts = [ln[2:] for ln in lines if ln.startswith("* ")]
    if r.returncode != 0 or not cps or not opts:
        fail(f"build failed (exit {r.returncode}); see {logf}")
    with open(built, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1], "java_options": opts}, f)
    return cps[-1], opts


def inputs(workload, seed):
    """Generated input directory for (workload, seed), made once; the
    directory name also keys on the generator and the sizes."""
    base = os.path.join(WORK, "data", workload)
    h = hashlib.sha256(json.dumps(SIZES[workload], sort_keys=True).encode())
    with open(gen.__file__, "rb") as f:
        h.update(f.read())
    d = os.path.join(base, f"seed-{seed}-{h.hexdigest()[:12]}")
    done = os.path.join(d, "rows.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        counts = gen.write(tmp, seed, SIZES[workload])
        with open(os.path.join(tmp, "rows.json"), "w") as f:
            json.dump(counts, f)
        os.rename(tmp, d)
        kept = sorted((os.path.getmtime(os.path.join(base, x)), x)
                      for x in os.listdir(base) if x.startswith("seed-"))
        for _, old in kept[:-SEEDS_KEPT]:
            shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    with open(done) as f:
        return d, json.load(f)


def run_jvm(cp, java_options, workload, seed, seconds, trace, data, out, check_dir):
    tmp = os.path.join(WORK, "tmp")
    jvm_cwd = os.path.join(WORK, "jvm")
    for p in (tmp, jvm_cwd):
        os.makedirs(p, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # graft's own options with the heap fixed in place of its -Xmx
    cmd = [java] + [o for o in java_options if not o.startswith(("-Xms", "-Xmx"))]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", workload, "--data", data, "--seconds", str(seconds),
            "--trace", str(trace), "--seed", str(seed), "--out", out,
            "--check-dir", check_dir, "--cpus", str(CPUS)]
    logf = os.path.join(WORK, "logs", f"{workload}-{seed}-{trace}.log")
    with open(logf, "w") as f:
        p = subprocess.Popen(cmd, cwd=jvm_cwd, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"benchmark JVM timed out; see {logf}")
    # graft's reference pipeline stages its CSV under the working directory
    shutil.rmtree(os.path.join(jvm_cwd, "target"), ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM exited {rc}; see {logf}")
    with open(out) as f:
        return json.load(f)


def load_check():
    path = os.path.join(ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(check, data, check_dir, steps, errors):
    """Compare each step's result with its DuckDB oracle using
    tools/check.py's canonical form. Returns {step: failure or None}."""
    os.environ.setdefault("CHECK_MEMLIMIT", "1GB")
    tempfile.tempdir = os.path.join(WORK, "tmp")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = check.connect(data)
    verdicts = {}
    for step in steps:
        if step in errors:
            verdicts[step] = "error: " + errors[step][:200]
            continue
        if step not in oracle:
            verdicts[step] = "no oracle SQL"
            continue
        try:
            got = con.execute("SELECT * FROM read_parquet("
                              f"'{check_dir}/{step}/*.parquet')").df()
            exp = con.execute(oracle[step]).df()
        except Exception as e:  # a broken oracle or output is a failure
            verdicts[step] = f"duckdb: {e}"[:200]
            continue
        gc, gr, gk = check.canon(got)
        ec, er, ek = check.canon(exp)
        if gc != ec:
            verdicts[step] = f"columns {gc} != {ec}"
        elif gk != ek:
            verdicts[step] = f"dtype kinds {gk} != {ek}"
        elif gr != er:
            verdicts[step] = f"rows differ ({len(gr)} vs {len(er)})"
        else:
            verdicts[step] = None
    con.close()
    return verdicts


TABLE_REF = re.compile(r"\b(?:from|join)\s+(" + "|".join(gen.TABLES) + r")\b",
                       re.IGNORECASE)


def rows_per_pass(oracle, steps, counts):
    """Rows of the generated tables one pass reads: for each step, the
    tables its oracle SQL reads."""
    total = 0
    for step in steps:
        tables = {t.lower() for t in TABLE_REF.findall(oracle.get(step, ""))}
        total += sum(counts[t] for t in tables)
    return total


def step_medians(raw):
    """Each step's median latency over the timed passes (ms): a slow call
    in one pass cannot move it."""
    return [stats.median(ms) for ms in raw["step_ms"].values()]


def run_seconds(raw):
    """One pass of the step list at each step's median latency."""
    return sum(step_medians(raw)) / 1e3


def end_to_end(raw, rows):
    """Latency percentiles are taken over the steps' median latencies, so
    they name a step's typical latency rather than land between two
    steps' samples."""
    run_s = run_seconds(raw)
    lat = step_medians(raw)
    return {
        "setup_s": raw["setup_s"],
        "run_s": run_s,
        "rows_per_s": rows / run_s,
        "latency_p50_ms": stats.percentile(lat, 50),
        "latency_p90_ms": stats.percentile(lat, 90),
        "peak_heap_mb": stats.median(raw["heap_mb"]),
    }


def per_layer(raw):
    passes = raw["layers"]
    n = len(passes)
    out = {}
    for layer in LAYERS:
        tot = {}
        for p in passes:
            for k, v in p.get(layer, {}).items():
                tot[k] = tot.get(k, 0.0) + v
        g = lambda k: tot.get(k, 0.0)  # noqa: E731
        vals = {
            "busy_s": g("busy_ns") / 1e9, "jobs": g("jobs"),
            "tasks": g("tasks"), "cpu_s": g("cpu_ns") / 1e9,
            "gc_s": g("gc_ms") / 1e3, "sched_delay_s": g("sched_delay_ms") / 1e3,
            "fetch_wait_s": g("fetch_wait_ms") / 1e3,
            "shuffle_mb": g("shuffle_bytes") / 2**20,
            "spill_mb": g("spill_bytes") / 2**20,
            "input_mb": g("input_bytes") / 2**20,
            "output_mb": g("output_bytes") / 2**20,
            "plan_ms": g("plan_ms"),
        }
        vals = {k: v / n for k, v in vals.items()}
        vals["empty_task_frac"] = (g("empty_tasks") / g("tasks")
                                   if g("tasks") else 0.0)
        for name, _ in LAYER_METRICS:
            out[f"{layer}.{name}"] = vals[name]
    for name, _ in ENGINE_METRICS[:-1]:
        out[f"engine.{name}"] = sum(e.get(name, 0.0) for e in raw["engine"]) / n
    out["engine.trace_overhead_frac"] = (
        sum(raw["traced_pass_s"]) / sum(raw["pass_s"]) - 1)
    return out


def units(trace):
    if not trace:
        return dict(END_TO_END)
    u = {f"{layer}.{m}": unit for layer in LAYERS for m, unit in LAYER_METRICS}
    u.update({f"engine.{m}": unit for m, unit in ENGINE_METRICS})
    return u


def report_lines(metrics, unit_of):
    """One unprefixed `name value unit` line per metric."""
    return [f"{name} {value!r} {unit_of[name]}" for name, value in metrics.items()]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    for need in ("build.sbt", os.path.join("tools", "check.py"),
                 os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    for d in ("logs", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    cp, java_options = build()
    data, counts = inputs(a.workload, a.seed)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    check_dir = os.path.join(WORK, "check", tag)
    shutil.rmtree(check_dir, ignore_errors=True)
    raw = run_jvm(cp, java_options, a.workload, a.seed, a.seconds, a.trace, data,
                  os.path.join(WORK, "results", tag + ".raw.json"), check_dir)

    verdicts = oracle_check(load_check(), data, check_dir, raw["check_steps"],
                            raw["check_errors"])
    for step, why in verdicts.items():
        if why:
            log(f"{step} FAILED the oracle check: {why}")
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    attempted = len(verdicts) + raw["attempted"]
    failed = sum(1 for v in verdicts.values() if v) + raw["failed"]

    if a.trace:
        metrics = per_layer(raw)
    else:
        metrics = end_to_end(raw, rows_per_pass(oracle, raw["check_steps"], counts))
    unit_of = units(a.trace)
    lines = report_lines(metrics, unit_of)
    lines.append(f"failed_frac {failed / attempted!r} frac")
    if a.trace:
        lines.append(f"untraced.run_s {run_seconds(raw)!r} s")
    else:
        lines += [f"samples.run {len(raw['pass_s'])} count",
                  f"samples.latency {sum(map(len, raw['step_ms'].values()))} count"]
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": unit_of[k]}
                          for k, v in metrics.items()}}
    with open(os.path.join(WORK, "results", tag + ".json"), "w") as f:
        json.dump({"lines": lines, "result": result, "oracle": verdicts}, f,
                  indent=1)
    shutil.rmtree(check_dir, ignore_errors=True)
    print("\n".join(lines))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
