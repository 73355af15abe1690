#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Builds the engine (src/main) and the harness (perfbench/src) with the
Scala compiler that ships in Spark's jars, into $CARGO_TARGET_DIR or
.bench_build. Each run is a fresh JVM with a fresh scratch root under
the build directory; the root is measured for out_mb and then deleted.
Prints each metric with its unit, then one JSON line:
{"correct", "attempted", "failed", "metrics"}. The full result, with
the run's posture, every op and (traced) every span, is written to
<build>/results/.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
DATA = HERE / "data" / "sf0.01"
HEAP = "3g"
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {jars}; set SPARK_HOME")
    return jars


def build_dir():
    return Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build").resolve()


def sources(repo):
    engine = repo / "src" / "main" / "scala"
    if not engine.is_dir():
        fail(f"engine sources not found under {engine}; run from the repository root")
    scala = sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    res = repo / "src" / "main" / "resources"
    resources = sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []
    return scala, res, resources


def build(repo):
    """Compiles engine + harness when any source changed; returns the classes dir."""
    scala, res_root, resources = sources(repo)
    jars = spark_jars()
    h = hashlib.sha256()
    for p in scala + resources:
        h.update(str(p.relative_to(repo)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = build_dir()
    classes = out / "classes"
    if (out / "stamp").exists() and (out / "stamp").read_text() == stamp:
        return classes, stamp
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn",
         "-d", str(tmp), "-classpath", cp] + [str(p) for p in scala],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    for p in resources:
        dst = tmp / p.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    (out / "stamp").write_text(stamp)
    print(f"# built {len(scala)} sources in {time.time() - t0:.1f}s", flush=True)
    return classes, stamp


def java_cmd(classes, root, main, args):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}"] + opens + [
        "-Dio.netty.tryReflectionSetAccessible=true",
        "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={root / 'tmp'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-cp", f"{classes}:{spark_jars()}/*", main] + args)


def run_jvm(cmd, cwd, log):
    """Runs one JVM in its own process group; kills the group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tree_bytes(p):
    total = 0
    for dirpath, _, names in os.walk(p):
        for n in names:
            f = os.path.join(dirpath, n)
            if os.path.isfile(f) and not os.path.islink(f):
                total += os.path.getsize(f)
    return total


def loadavg():
    return float(Path("/proc/loadavg").read_text().split()[0])


def git_commit(repo):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def versions():
    r = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                       stderr=subprocess.PIPE, text=True)
    jdk = r.stderr.splitlines()[0] if r.stderr else "unknown"
    spark = next((p.name[len("spark-core_2.13-"):-len(".jar")]
                  for p in spark_jars().glob("spark-core_2.13-*.jar")), "unknown")
    return jdk, spark


def self_test(repo):
    classes, _ = build(repo)
    root = build_dir() / "selftest"
    shutil.rmtree(root, ignore_errors=True)
    (root / "tmp").mkdir(parents=True)
    rc = run_jvm(java_cmd(classes, root, "perfbench.GeneratorCheck", [str(root / "gen")]),
                 root, build_dir() / "selftest.log")
    print(((build_dir() / "selftest.log").read_text().strip().splitlines() or [""])[-1])
    shutil.rmtree(root, ignore_errors=True)
    return 0 if rc == 0 else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    repo = Path.cwd()
    if a.self_test:
        return self_test(repo)
    if not DATA.is_dir() or not (repo / "BENCHMARK.json").is_file():
        fail(f"input tables under {DATA} or BENCHMARK.json not found")
    # workload names, metric names and units are BENCHMARK.json's
    spec = json.loads((repo / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"--workload must be one of {[w['name'] for w in spec['workloads']]}")
    classes, stamp = build(repo)

    out = build_dir()
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    root = out / "runs" / f"{name}-{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    (root / "tmp").mkdir(parents=True)
    (out / "results").mkdir(exist_ok=True)
    result_file = out / "results" / f"{name}.raw.json"
    result_file.unlink(missing_ok=True)
    cpus = len(os.sched_getaffinity(0))
    load0 = loadavg()
    launch_ms = int(time.time() * 1000)
    rc = run_jvm(java_cmd(classes, root, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(cpus), "--root", str(root),
        "--data", str(DATA), "--expected", str(HERE / "expected_rows.tsv"),
        "--result", str(result_file), "--launch-ms", str(launch_ms)]),
        root, out / "results" / f"{name}.log")
    out_bytes = tree_bytes(root)
    shutil.rmtree(root, ignore_errors=True)
    if rc != 0 or not result_file.exists():
        fail(f"run {'timed out' if rc is None else f'exited {rc}'}; "
             f"see {out / 'results' / (name + '.log')}")
    res = json.loads(result_file.read_text())
    res["metrics"]["out_mb"] = out_bytes / 1e6
    jdk, spark = versions()
    res["posture"] = {
        "host": platform.node(), "nproc": os.cpu_count(), "cpus": cpus,
        "driver_heap": HEAP, "jdk": jdk, "spark": spark,
        "load_start": load0, "load_end": loadavg(),
        "sf_dir": str(DATA.relative_to(HERE.parent)), "seed": a.seed,
        "git_commit": git_commit(repo), "source_sha256": stamp,
        "note": f"measured on this {os.cpu_count()}-vCPU host",
    }
    (out / "results" / f"{name}.json").write_text(json.dumps(res, indent=1))
    result_file.unlink()

    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        v = res["metrics"].get(m["name"])
        # null: a median over ops that mostly failed, which count as infinite
        metrics[m["name"]] = {"value": v if v is not None else 1e9, "unit": m["unit"]}
    print("# posture " + json.dumps(res["posture"]))
    for key, m in metrics.items():
        n = f" (n={res['metrics']['op_n']:.0f})" if key == "op_p50_s" else ""
        print(f"# {key} {m['value']:.6g} {m['unit']}{n}")
    bad = [o for o in res["ops"] if not o["ok"]]
    for o in bad[:10]:
        print(f"# FAILED {o['name']}: {o['detail']}")
    print(json.dumps({"correct": not bad, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
