#!/usr/bin/env python3
"""Benchmark driver: build the engine, generate seeded inputs, run one
workload in one JVM, check it, and report.

    python3 perfbench/run.py --workload loop_jdbc --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads: loop_jdbc, registry_pass (see
perfbench/README.md). ``--trace 1`` attaches the
listener-based tracer and reports the per-layer metrics instead of the
end-to-end ones.

Output: one ``metric workload=... name=... value=... unit=...`` line per
metric, then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json, or its per-layer metrics when tracing). The full record of
the run goes to ``.bench_build/results/<workload>_seed<n>_trace<t>.json``.

Everything the run writes stays under ``.bench_build/`` in the repository.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("loop_jdbc", "registry_pass")
JDBC_SF = 0.01  # 16.5k rows of customer + orders
REGISTRY_SF = 0.01  # 500 documents
JVM_TIMEOUT_S = 170
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def parse_metric_lines(lines, layer_units=None):
    """Collect the JVM's ``@@ {json}`` lines into (metrics, facts).

    metrics: name -> {"value": float, "unit": str}; facts: name -> value.
    A ``layer`` record is a per-layer figure: its unit comes from
    ``layer_units`` (name -> unit, the per_layer list of BENCHMARK.json),
    and a name not in it raises; when ``layer_units`` is given, every name
    in it the JVM did not report (a layer the workload does not run) reads
    0. Any other line (Spark logging, console noise) is ignored; a
    malformed ``@@`` line raises, because a half-read result must not pass
    for a whole one.
    """
    layer_units = layer_units or {}
    metrics, facts = {}, {}
    for line in lines:
        if not line.startswith("@@ "):
            continue
        try:
            rec = json.loads(line[3:])
        except ValueError as e:
            raise BenchError(f"malformed metric line: {line[:200]!r}") from e
        if "metric" in rec or "layer" in rec:
            if not isinstance(rec.get("value"), (int, float)) or isinstance(rec["value"], bool):
                raise BenchError(f"metric without a number: {line[:200]!r}")
            if "metric" in rec:
                name, unit = rec["metric"], rec["unit"]
            elif rec["layer"] in layer_units:
                name, unit = rec["layer"], layer_units[rec["layer"]]
            else:
                raise BenchError(f"layer metric not in BENCHMARK.json: {line[:200]!r}")
            metrics[name] = {"value": float(rec["value"]), "unit": unit}
        elif "fact" in rec:
            facts[rec["fact"]] = rec.get("value")
        else:
            raise BenchError(f"unknown record: {line[:200]!r}")
    for name, unit in layer_units.items():
        metrics.setdefault(name, {"value": 0.0, "unit": unit})
    return metrics, facts


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise BenchError("no engine sources under src/main/scala: run from a full checkout")
    return main + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def build(jars):
    """Compile the engine and the harness with scalac, once per source state."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, 0.0
    t0 = time.time()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}", "-Xss8m", "-Xmx2g",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + files
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        raise BenchError("build failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, time.time() - t0


def dml_steps(seconds):
    """DML steps to plan: more than the loop can use at one iteration per 2 s."""
    return 4 + int(seconds / 2)


def make_inputs(workload, seed, seconds):
    sys.path.insert(0, HERE)
    import gen

    data = os.path.join(BUILD, "data", workload)
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    if workload == "loop_jdbc":
        gen.jdbc(data, seed, JDBC_SF, dml_steps(seconds))
    else:
        # the registry pass reads one fixed fixture set: the seed is unused
        gen.registry(data, REGISTRY_SF)
        shutil.copy(os.path.join(HERE, "registry_reference.json"),
                    os.path.join(data, "reference.json"))
    return data


def top_percentile(samples):
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); None when there are too few samples for any."""
    n = len(samples)
    if n < 20:
        return None
    p = 100 * (1 - 10 / n)
    return [p, sorted(samples)[min(n - 1, int(p / 100 * n))]]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def run_jvm(classes, jars, workload, data, seconds, trace):
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = str(len(os.sched_getaffinity(0)))
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.PerfBench",
              workload, data, work, str(seconds), str(trace)])
    env = dict(os.environ, PERFBENCH_CPUS=cpus)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True,
                             env=env, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{workload} did not finish in {JVM_TIMEOUT_S} s")
    if p.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"JVM exited {p.returncode}:\n{tail}")
    return out.splitlines(), cpus


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    load0 = loadavg()
    jars = spark_jars()
    classes, build_s = build(jars)
    t0 = time.time()
    data = make_inputs(a.workload, a.seed, a.seconds)
    gen_s = time.time() - t0
    lines, cpus = run_jvm(classes, jars, a.workload, data, a.seconds, a.trace)
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]} if a.trace else None
    metrics, facts = parse_metric_lines(lines, layer_units)
    missing = [n for n in wanted if n not in metrics]
    if missing:
        raise BenchError(f"the run reported no {', '.join(missing)}")
    attempted, failed = int(facts["attempted"]), int(facts["failed"])

    ops = facts.get("op_samples_s") or []
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": int(cpus), "build_s": build_s, "gen_s": gen_s,
        "load_avg_start": load0, "load_avg_end": loadavg(),
        "iter_samples": len(ops), "iter_top_percentile": top_percentile(ops),
        "metrics": metrics, "facts": facts,
    }
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, f"{a.workload}_seed{a.seed}_trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    for name, m in metrics.items():
        print(f"metric workload={a.workload} name={name} value={m['value']} unit={m['unit']}")
    for p in facts.get("problems") or []:
        print(f"problem workload={a.workload}: {p}")
    print(f"artifact {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted, "failed": failed,
        "metrics": {n: metrics[n] for n in wanted},
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
