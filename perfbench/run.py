#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. The `catalog` workload also
generates its corpus once (perfbench/corpus.py). Every run then starts
one JVM (perfbench.Main) with fresh working directories under
perfbench/.work, prints what the harness prints (run metadata, one line
per measured query or drain) and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, derived by
perfbench/report.py from the run's span file (kept under
perfbench/.work/spans).
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
sys.path.insert(0, HERE)
import corpus  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("live_deploy", "catalog")
CATALOG_SF = 0.01
SMOKE_SF = 0.001
JVM_TIMEOUT_S = 170
HEAP = ["-Xms3g", "-Xmx3g"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile engine + harness; return the runtime classpath."""
    sources = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    stamp = tree_hash([p for p in sources if os.path.isdir(p)]) + \
        hashlib.sha256(b"".join(open(p, "rb").read() for p in sources if os.path.isfile(p))).hexdigest()
    cp_file = os.path.join(HERE, "target", "perfbench.classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip(), stamp
    log("building engine and harness with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp, stamp


def ensure_corpus(work, sf):
    """The catalog corpus: deterministic, so generated once per checkout."""
    stamp = hashlib.sha256(open(corpus.__file__, "rb").read()).hexdigest()[:16]
    out = os.path.join(work, f"corpus-sf{sf}-{stamp}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        log(f"generating catalog corpus at sf{sf}")
        shutil.rmtree(out, ignore_errors=True)
        corpus.generate(out, sf)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def git_sha(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cmd, log_path):
    """Run the harness JVM; return its stdout lines. On timeout, SIGTERM
    or SIGINT the whole process group is killed and waited for. Engine
    tuning variables and Spark scratch locations from the caller's
    environment are dropped, so every run uses the same engine settings
    and stays in the checkout."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                env=env, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"stopped by signal {signum}")
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"harness exceeded {JVM_TIMEOUT_S} s")
    if proc.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"harness exited with {proc.returncode}")
    return out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--plant", action="store_true",
                    help="plant one wrong result; the run must report it as failed")
    ap.add_argument("--goldens", metavar="FILE",
                    default=os.path.join(HERE, "catalog_goldens.txt"),
                    help="catalog only: the result digests to check against")
    ap.add_argument("--write-goldens", metavar="FILE",
                    help="catalog only: write result digests instead of checking them")
    ap.add_argument("--smoke", action="store_true",
                    help="tiny shapes: a few pipes, the catalog at sf0.001")
    args = ap.parse_args()

    root = os.getcwd()
    engine = os.path.join(root, "src", "main", "scala")
    fixture = os.path.join(root, "src", "test", "resources", "reference_export_fixture.json")
    bench_json = os.path.join(root, "BENCHMARK.json")
    for need in (engine, fixture, bench_json):
        if not os.path.exists(need):
            raise SystemExit(f"not a checkout root with the engine: {need} is missing")
    with open(bench_json) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    cp, source_hash = build(root)
    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans_dir = os.path.join(work_root, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    span_file = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl")
    nproc = len(os.sched_getaffinity(0))
    corpus_dir = ensure_corpus(work_root, SMOKE_SF if args.smoke else CATALOG_SF) \
        if args.workload == "catalog" else ""

    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        *HEAP, "-XX:ReservedCodeCacheSize=512m",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}/tmp",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--cpus", str(nproc), "--fixture", fixture,
        "--queries", os.path.join(HERE, "catalog_queries.txt"),
        "--goldens", os.path.abspath(args.goldens)]
    if corpus_dir:
        cmd += ["--corpus", corpus_dir]
    if args.trace:
        cmd += ["--spans", span_file]
    if args.plant:
        cmd += ["--plant"]
    if args.smoke:
        cmd += ["--smoke"]
    if args.write_goldens:
        cmd += ["--write-goldens", os.path.abspath(args.write_goldens)]

    try:
        lines = run_jvm(cmd, os.path.join(work_root, f"jvm-{args.workload}.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        if line.startswith("meta "):
            meta = json.loads(line[5:])
            meta.update(nproc=nproc, git_sha=git_sha(root), source_hash=source_hash)
            line = "meta " + json.dumps(meta, sort_keys=True)
        print(line)

    if args.trace:
        values, overhead = report.per_layer(report.load(span_file))
        print(f"trace span_file={os.path.relpath(span_file, root)} "
              f"overhead_pct={overhead:.3f}")
    else:
        values = result["metrics"]
    names = [m["name"] for m in (spec["per_layer"] if args.trace else spec["end_to_end"])]
    missing = [n for n in names if n not in values]
    if missing:
        raise SystemExit(f"metrics missing from the run: {missing}")
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names},
    }))


if __name__ == "__main__":
    main()
