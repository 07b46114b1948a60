#!/usr/bin/env python3
"""Compaction benchmark: the SSTable2Json CLI end to end on seeded snapshots.

Run from the root of a checkout:

    python3 perfbench/run.py --workload fleet_json --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

The first run builds the program and this package with sbt (the program
through its own build file) and caches the classpath in `perfbench-work/`.
Each run writes its seeded corpus into `perfbench-work/corpus/` through the
program's own SSTable writer, times fresh CLI invocations (one JVM each),
checks every output against the generator's independent model, and prints
one JSON line: with `--trace 0` the end-to-end metrics, with `--trace 1`
the per-layer metrics of a traced run. NOTES.md explains the workloads.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / "perfbench-work"
SRC = HERE / "src" / "main" / "scala" / "perfbench"

# partitions per corpus: a run (one setup invocation, one job) takes about
# 35-50 s, so that 70 runs and two builds fit in 3420 s
KEYS = {"fleet_json": 165000, "wide_sstable": 270, "cql_parquet": 2500}
# tiny corpora of the self-check
SELFCHECK_KEYS = {"fleet_json": 300, "wide_sstable": 3, "cql_parquet": 60}
CLI_TIMEOUT_S = 150
RUN_BUDGET_S = 120
KEEP_CORPORA = 4

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def tree_fingerprint(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for p in files:
            st = p.stat()
            h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def bench_sources():
    return [HERE / "build.sbt", HERE / "project" / "build.properties", HERE / "src"]


def build():
    """Compile the program and this package; return the runtime classpath."""
    program = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main"]
    fp = tree_fingerprint(program + bench_sources())
    stamp = WORK / "build.json"
    if stamp.exists():
        cached = json.loads(stamp.read_text())
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   f"{Path.home() / '.sbt' / 'repositories'} -Dsbt.offline=true -Xmx4g")
    for attempt in (1, 2):  # one retry: a first build has failed once and passed when run again
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, capture_output=True, text=True, timeout=400)
        lines = p.stdout.strip().splitlines()
        if p.returncode == 0 and lines:
            break
        errors = [line for line in lines if not line.startswith(("/", "[info]"))]
        sys.stderr.write("\n".join(errors)[-4000:] + p.stderr[-4000:] + "\n")
        log(f"build attempt {attempt} failed with exit code {p.returncode}")
    else:
        fail("build failed")
    stamp.write_text(json.dumps({"fingerprint": fp, "classpath": lines[-1]}))
    return lines[-1]


def java(cp, *args, env=None, timeout=CLI_TIMEOUT_S, logfile=None):
    """Run one JVM from the checkout root; a JVM that outlives `timeout` is
    killed and reported with exit code -1."""
    cmd = ["java", *[f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS],
           "-Xmx2g", f"-Djava.io.tmpdir={WORK / 'tmp'}", "-cp", cp, *args]
    env = dict(os.environ if env is None else env)
    # Spark binds to the loopback interface: the host name may not resolve
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    try:
        return subprocess.run(cmd, cwd=ROOT, env=env, timeout=timeout, text=True,
                              stdout=subprocess.PIPE if logfile is None else logfile,
                              stderr=subprocess.STDOUT if logfile is not None else subprocess.PIPE)
    except subprocess.TimeoutExpired:
        log(f"{args[0]} killed after {timeout:.0f} s")
        return subprocess.CompletedProcess(cmd, -1, "", "")


def jvm_path(p):
    """`p` as the JVMs see it: through /proc/self/cwd, the JVM's working
    directory, which is the checkout root. The SSTable source skips any input
    with a '.' or '_' directory among its ancestors (and the CLI then succeeds
    on an empty snapshot), and Hadoop paths cannot hold a ':', so the
    checkout's own location never reaches a JVM."""
    return f"/proc/self/cwd/{Path(p).relative_to(ROOT)}"


def corpora(cp, workload, seed, *sizes):
    """The seeded corpora of the given sizes (partitions), as (dir, metadata)
    pairs, cached by workload, seed, size and generator version; the missing
    ones are written in one JVM."""
    gen_version = tree_fingerprint([SRC / "Corpus.scala", SRC / "Digest.scala"])
    dirs = [WORK / "corpus" / f"{workload}-s{seed}-k{keys}-{gen_version}" for keys in sizes]
    missing = [(keys, d) for keys, d in zip(sizes, dirs) if not (d / "corpus.json").exists()]
    if missing:
        tmps = [d.with_name(d.name + ".tmp") for _, d in missing]
        for tmp in tmps:
            shutil.rmtree(tmp, ignore_errors=True)
            tmp.mkdir(parents=True)
        p = java(cp, "perfbench.Main", "gen", workload, str(seed),
                 *[f"{keys}={jvm_path(tmp)}" for (keys, _), tmp in zip(missing, tmps)], timeout=170)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-4000:])
            fail(f"corpus generation failed for {workload}")
        for (_, d), tmp in zip(missing, tmps):
            tmp.rename(d)
    for d in dirs:
        os.utime(d)
    big = sorted((p for p in (WORK / "corpus").iterdir() if p.is_dir() and "-k1-" not in p.name),
                 key=lambda p: p.stat().st_mtime, reverse=True)
    for old in big[KEEP_CORPORA:]:
        shutil.rmtree(old, ignore_errors=True)
    return [(d, json.loads((d / "corpus.json").read_text())) for d in dirs]


def cli_flags(workload):
    if workload == "wide_sstable":
        return ["4194304", "sstable:jb", "compress"]
    if workload == "cql_parquet":
        cql = WORK / "ledger.cql"
        return [f"schemafile:{jvm_path(cql)}", f"cqlfile:{jvm_path(cql)}"]
    return []


def spark_env(cores):
    local = WORK / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    return dict(os.environ, SPARK_MASTER=f"local[{cores}]", SPARK_LOCAL_DIRS=str(local))


def run_cli(cp, workload, corpus_dir, out, cores):
    """One CLI invocation in a fresh JVM: (wall seconds, exit code)."""
    shutil.rmtree(out, ignore_errors=True)
    with open(out.with_suffix(".log"), "w") as logfile:
        t0 = time.perf_counter()
        rc = java(cp, "graft.tools.SSTable2Json", jvm_path(corpus_dir), jvm_path(out), *cli_flags(workload),
                  env=spark_env(cores), logfile=logfile).returncode
        return time.perf_counter() - t0, rc


def check(cp, workload, outputs):
    """outputs: [(dir, expected digest, perturbation or None)] -> per-output reports"""
    specs = [f"{jvm_path(o)}={d}" + (f"={p}" if p else "") for o, d, p in outputs]
    p = java(cp, "perfbench.Main", "check", workload, *specs)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        return [{"ok": False, "out_bytes": 0} for _ in outputs]
    return json.loads(p.stdout.strip().splitlines()[-1])


def prepare():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program to build at {ROOT}: build.sbt or src/main/scala is missing", 2)
    for d in ("tmp", "out", "corpus"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    (WORK / "ledger.cql").write_text(
        "CREATE TABLE aegbench.ledger (user_id bigint, day int, seq int, kind text, amount double, "
        "tags set<text>, PRIMARY KEY ((user_id), day, seq))")
    return build()


def end_to_end(cp, args, cores):
    start = time.perf_counter()
    (big, meta), (one, one_meta) = corpora(cp, args.workload, args.seed, KEYS[args.workload], 1)
    log(f"corpus ready after {time.perf_counter() - start:.1f} s")
    outs = WORK / "out"
    runs = []  # (kind, seconds, rc, out dir, expected digest)
    t, rc = run_cli(cp, args.workload, one, outs / "setup", cores)
    runs.append(("setup", t, rc, outs / "setup", one_meta["expected"]))
    job_time = 0.0
    i = 0
    while i == 0 or (job_time < args.seconds and time.perf_counter() - start < RUN_BUDGET_S):
        t, rc = run_cli(cp, args.workload, big, outs / f"job{i}", cores)
        runs.append(("job", t, rc, outs / f"job{i}", meta["expected"]))
        job_time += t
        i += 1
    t0 = time.perf_counter()
    reports = check(cp, args.workload, [(r[3], r[4], None) for r in runs])
    log(f"invocations {[f'{r[0]} {r[1]:.2f} s' for r in runs]}, check {time.perf_counter() - t0:.1f} s")
    failed = 0
    for r, rep in zip(runs, reports):
        if r[2] != 0 or not rep["ok"]:
            failed += 1
            log(f"{r[0]} output {r[3]} exit={r[2]} check={rep}")
    jobs = [r[1] for r in runs if r[0] == "job"]
    job_out = [rep["out_bytes"] for r, rep in zip(runs, reports) if r[0] == "job"]
    job_s = statistics.median(jobs)
    metrics = {
        "job_s": (job_s, "s"),
        "input_mib_per_s": (meta["data_bytes"] / 2**20 / job_s, "MiB/s"),
        "setup_s": (runs[0][1], "s"),
        "out_bytes_per_in_byte": (statistics.median(job_out) / meta["data_bytes"], "ratio"),
        "ok_rate": (1 - failed / len(runs), "ratio"),
    }
    return len(runs), failed, metrics


def traced(cp, args, cores):
    """The traced run; trace.overhead_s is its wall time minus the job_s of
    one CLI invocation on the same corpus, timed first in this run."""
    [(big, meta)] = corpora(cp, args.workload, args.seed, KEYS[args.workload])
    out = WORK / "out" / "job0"
    job_s, rc = run_cli(cp, args.workload, big, out, cores)
    attempted = 2
    failed = int(rc != 0 or not check(cp, args.workload, [(out, meta["expected"], None)])[0]["ok"])
    trace_dir = WORK / "out" / "trace"
    shutil.rmtree(trace_dir, ignore_errors=True)
    trace_dir.mkdir(parents=True)
    t0 = time.perf_counter()
    p = java(cp, "perfbench.Main", "trace", args.workload, jvm_path(big), jvm_path(trace_dir), *cli_flags(args.workload),
             env=spark_env(cores), timeout=170)
    wall = time.perf_counter() - t0
    log(f"traced JVM {wall:.1f} s")
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        return attempted, attempted, None
    # the traced full call's output must match the model too
    failed += not check(cp, args.workload, [(trace_dir / "trace-out", meta["expected"], None)])[0]["ok"]
    layer = json.loads(p.stdout.strip().splitlines()[-1])
    layer["trace.overhead_s"] = wall - job_s
    shutil.copy(trace_dir / "trace-spans.json", WORK / f"trace-spans-{args.workload}.json")
    return attempted, failed, {name: (value, unit_of(name)) for name, value in layer.items()}


def unit_of(metric):
    if metric.endswith("mib_per_s"):
        return "MiB/s"
    if metric.endswith("_per_s"):
        return "1/s"
    if metric.endswith("_mib"):
        return "MiB"
    if metric.endswith((".s", "_s")):
        return "s"
    if metric.endswith(("ratio", "over_median", "per_input_byte")):
        return "ratio"
    return "count"


def selfcheck(cp, cores):
    """Each workload on a tiny seed: the model must match the program's
    output, and a perturbed output (one cell dropped, one timestamp or
    value changed) must be reported as wrong."""
    good = True
    for w, keys in SELFCHECK_KEYS.items():
        [(d, meta)] = corpora(cp, w, 1, keys)
        out = WORK / "out" / f"selfcheck-{w}"
        _, rc = run_cli(cp, w, d, out, cores)
        reps = check(cp, w, [(out, meta["expected"], p) for p in (None, "drop", "alter")])
        verdict = [rc == 0 and reps[0]["ok"], not reps[1]["ok"], not reps[2]["ok"]]
        good &= all(verdict)
        print(f"{w}: exit={rc} model_match={reps[0]['ok']} drop_detected={not reps[1]['ok']} "
              f"alter_detected={not reps[2]['ok']} atoms={meta['atoms']}")
    print(json.dumps({"selfcheck": good}))
    return 0 if good else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(KEYS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    cp = prepare()
    cores = len(os.sched_getaffinity(0))
    if args.selfcheck:
        sys.exit(selfcheck(cp, cores))
    if not args.workload:
        fail("--workload is required", 2)
    attempted, failed, metrics = (traced if args.trace else end_to_end)(cp, args, cores)
    if metrics is None:
        fail("traced run failed")
    shutil.rmtree(WORK / "out", ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
