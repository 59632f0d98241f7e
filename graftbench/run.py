#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one engine JVM.

    python3 graftbench/run.py --workload sql_analyst --seed 42 --seconds 15 --trace 0

Run from the repository root. The steps:

1. Build graft and the harness (graftbench/harness, its own sbt build)
   unless the sources are unchanged since the last build in this
   checkout; dump SparkEntry.oracleSql; record a JVM class-data-sharing
   archive of the classes the engine loads (one untimed run of every
   workload's op list), so set-up does not re-load and re-verify them.
2. Generate the inputs from the seed (gen.py) into a fresh run directory
   and compute the DuckDB oracle results for the workload's gates, both
   outside every timed window.
3. Launch the engine as plain `java` on the built classpath, with the
   run directory as warehouse, java.io.tmpdir, spark.local.dir and
   spark.sql.warehouse.dir, so no earlier run's files enter a metric.
   The harness runs the op list once untimed and dumps every result,
   then makes the workload's fixed number of timed passes over it.
4. Check every dumped result against its oracle (oracle.py), and every
   timed call's row count against the dumped result's, and print one
   JSON line: `correct`, `attempted`, `failed` and `metrics`: the
   end-to-end metrics, or with --trace 1 the per-layer ones.

End-to-end metrics: setup_s (process start to a warmed session), then
over the timed passes: wall_s (median over passes of the summed op
times, which leave out the between-op cache drop), cpu_s (the same for
engine CPU: the calling thread's CPU plus the tasks' executor CPU, so
not the JIT compiler and GC threads, whose share shrinks pass by pass
as the JVM warms up), op_p50_s (median over ops of each op's median
latency), shuffle_mb (median over passes of the shuffle bytes written,
summed from task-end metrics), heap_live_end_mb (median over passes of
the live heap after the GC that closes each pass), stored_mb (bytes
left in warehouse, tmpdir staging and checkpoints) and ok_ratio (share
of calls that neither threw nor failed their check).

A traced run (--trace 1) traces every odd-numbered pass: each per-layer
metric is its median over the traced passes, and trace.overhead_ratio
is the median traced pass time over the median untraced one.

The pass count is fixed per workload (workloads.json), so every run
measures the same work: the timed passes take 15-25 s on a four-vCPU
host, the run_seconds BENCHMARK.json states. --seconds is recorded, not
obeyed, and a run is never cut short. The line before the result holds
the host facts, the canary, the input description and the failed ops;
the full record with per-op results, and the trace, go under
graftbench/work/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, "work")
BUILD = os.path.join(WORK, "build")
ARCHIVE = os.path.join(BUILD, "engine.jsa")
RUN_LIMIT_S = 170
JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402


class BenchError(Exception):
    pass


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, cwd, env, timeout, stdout, stderr):
    """Run cmd to completion; on timeout kill its whole process group."""
    with open(stdout, "wb") as out, open(stderr, "wb") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=err,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{os.path.basename(cmd[0])} timed out after {timeout:.0f} s")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=20):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def fingerprint(cfg):
    """Hash of the sources and of the op lists (the class-data-sharing
    archive covers the classes they load)."""
    h = hashlib.sha256(json.dumps([w["ops"] for w in cfg["workloads"].values()]).encode())
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(cfg):
    """Compile graft + harness with sbt when sources changed, dump the
    oracle SQL and record the class-data-sharing archive; returns the
    classpath, the oracle SQL map and the source fingerprint."""
    required = [os.path.join(ROOT, "build.sbt"),
                os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
                os.path.join(HARNESS, "build.sbt")]
    missing = [os.path.relpath(p, ROOT) for p in required if not os.path.exists(p)]
    if missing:
        raise BenchError(f"not a graft checkout (missing {', '.join(missing)})")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    oracles = os.path.join(BUILD, "oracle_sql.json")
    fp = fingerprint(cfg)
    fresh = all(os.path.exists(p) for p in (stamp, cp_file, oracles, ARCHIVE))
    if not (fresh and open(stamp).read() == fp):
        log("building graft and the harness with sbt")
        if os.path.exists(stamp):
            os.remove(stamp)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                      HARNESS, env, 600, os.path.join(BUILD, "sbt.out"), os.path.join(BUILD, "sbt.err"))
        if rc != 0:
            raise BenchError("sbt build failed:\n" + tail(os.path.join(BUILD, "sbt.out")))
        shutil.copy(os.path.join(HARNESS, "target", "classpath.txt"), cp_file)
        cp = open(cp_file).read().strip()
        rc = run_proc(java_cmd(cp, {}, "1g", 1, None) + ["oracles", oracles], BUILD, dict(os.environ), 60,
                      os.path.join(BUILD, "oracles.out"), os.path.join(BUILD, "oracles.err"))
        if rc != 0:
            raise BenchError("oracle SQL dump failed:\n" + tail(os.path.join(BUILD, "oracles.err")))
        record_archive(cp, cfg)
        with open(stamp, "w") as f:
            f.write(fp)
    with open(oracles) as f:
        return open(cp_file).read().strip(), json.load(f), fp


def record_archive(cp, cfg):
    """One untimed engine run of every workload's op list (seed 0) with
    -XX:ArchiveClassesAtExit: the archive then holds every class the
    benchmark's engine runs load."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    run_dir = os.path.join(BUILD, "archive-run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    gen.write(data_dir, 0, cfg["sf"])
    spec = os.path.join(run_dir, "ops.spec")
    ops = [op for w in cfg["workloads"].values() for op in w["ops"]]
    with open(spec, "w") as f:
        f.write("\n".join(dict.fromkeys(ops)) + "\n")
    engine(cp, cfg, run_dir, data_dir, ["run", spec, "{data}", "{out}", "0", "0", "{result}"],
           time.time() + 600, "archive", archive=None, extra=[f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    shutil.rmtree(run_dir, ignore_errors=True)
    if not os.path.exists(ARCHIVE):
        raise BenchError("the JVM wrote no class-data-sharing archive")


def java_cmd(cp, props, heap, cores, archive, extra=()):
    """build.sbt's javaOptions, plus the core count (local[cores], and the
    JVM's own thread pools), the class-data-sharing archive and run-local
    system properties."""
    cmd = ["java"] + list(extra)
    if archive:
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-XX:ActiveProcessorCount={cores}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Xmx{heap}"]
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    return cmd + ["-cp", cp, "graft.bench.Harness"]


# ------------------------------------------------------------------ run

def fresh_dirs(run_dir):
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "warehouse", "sqlwh", "local", "out")}
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    return dirs


def engine(cp, cfg, run_dir, data_dir, args, deadline, tag, archive=ARCHIVE, extra=()):
    """One engine JVM with a fresh warehouse, tmpdir and local dirs."""
    dirs = fresh_dirs(run_dir)
    props = {"java.io.tmpdir": dirs["tmp"], "spark.local.dir": dirs["local"],
             "spark.sql.warehouse.dir": dirs["sqlwh"]}
    env = dict(os.environ, GRAFT_WAREHOUSE=dirs["warehouse"])
    env.pop("SPARK_MASTER_URL", None)
    result = os.path.join(run_dir, f"{tag}.json")
    err = os.path.join(run_dir, f"{tag}.stderr")
    cmd = java_cmd(cp, props, cfg["heap"], cfg["cores"], archive, extra) + \
        [a.format(data=data_dir, out=dirs["out"], result=result) for a in args]
    rc = run_proc(cmd, run_dir, env, deadline - time.time(), os.path.join(run_dir, f"{tag}.stdout"), err)
    if rc != 0 or not os.path.exists(result):
        raise BenchError(f"engine JVM ({tag}) exited {rc}:\n" + tail(err))
    with open(result) as f:
        r = json.load(f)
    r["out_dir"] = dirs["out"]
    if os.path.exists(result + ".trace.json"):
        r["trace_file"] = result + ".trace.json"
    return r


def check_outputs(r, expected):
    """Checks the dumped results against their oracles and each timed
    call's row count against its dumped result's. Returns the number of
    failed calls and {op: first error}."""
    errors, dumped_rows, bad = {}, {}, 0
    for op in r["check"]:
        err = op["error"]
        if err is None and op["kind"] == "op":
            out = os.path.join(r["out_dir"], op["name"])
            err = oracle.check(out, expected.get(op["name"]))
            dumped_rows[op["name"]] = oracle.rows(out)
        if err is not None:
            bad += 1
            errors.setdefault(op["name"], err)
    for p in r["passes"]:
        for op in p["ops"]:
            err = op["error"]
            want = dumped_rows.get(op["name"])
            if err is None and want is not None and op["rows"] != want:
                err = f"timed call returned {op['rows']:.0f} rows, the checked call {want}"
            if err is not None:
                bad += 1
                errors.setdefault(op["name"], err)
    return bad, errors


def pass_wall(p):
    return sum(o["secs"] for o in p["ops"])


def end_to_end(r, bad, attempted):
    passes = r["passes"]
    per_op = zip(*[[o["secs"] for o in p["ops"]] for p in passes])
    return {
        "setup_s": r["setup_s"],
        "wall_s": statistics.median(pass_wall(p) for p in passes),
        "cpu_s": statistics.median(sum(o["cpu_s"] for o in p["ops"]) for p in passes),
        "op_p50_s": statistics.median(statistics.median(s) for s in per_op),
        "shuffle_mb": statistics.median(p["shuffle_bytes"] for p in passes) / 1e6,
        "heap_live_end_mb": statistics.median(p["heap_live_bytes"] for p in passes) / 1e6,
        "stored_mb": r["stored_bytes"] / 1e6,
        "ok_ratio": 1.0 - bad / attempted,
    }


def per_layer(r):
    m = {k: v if v is not None else 0.0 for k, v in r["per_layer"].items()}
    traced = [pass_wall(p) for p in r["passes"] if p["traced"]]
    untraced = [pass_wall(p) for p in r["passes"] if not p["traced"]]
    m["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced)
    return m


def with_units(values, declared):
    """Attach BENCHMARK.json's unit to each value, in its order."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.time()
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    if a.workload not in cfg["workloads"]:
        raise BenchError(f"unknown workload {a.workload}; have {sorted(cfg['workloads'])}")
    wl = cfg["workloads"][a.workload]
    sf, passes = cfg["sf"], wl["passes"]
    cp, oracle_sql, fp = build(cfg)
    build_s = time.time() - started
    deadline = time.time() + RUN_LIMIT_S  # the first run in a checkout also builds

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    inputs = gen.write(data_dir, a.seed, sf)
    gates = [line.split()[2] for line in wl["ops"] if line.startswith("op ")]
    expected = oracle.expected(oracle.connect(data_dir), oracle_sql, gates)
    spec = os.path.join(run_dir, "ops.spec")
    with open(spec, "w") as f:
        f.write("\n".join(wl["ops"]) + "\n")

    r = engine(cp, cfg, run_dir, data_dir,
               ["run", spec, "{data}", "{out}", str(passes), str(a.trace), "{result}"], deadline, "run")
    attempted = len(wl["ops"]) * (1 + passes)
    bad, errors = check_outputs(r, expected)
    if a.trace:
        metrics = with_units(per_layer(r), declared["per_layer"])
    else:
        metrics = with_units(end_to_end(r, bad, attempted), declared["end_to_end"])
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "sf": sf, "passes": passes,
        "source_fingerprint": fp, "seconds": a.seconds,
        "inputs": inputs, "host": r["host"], "canary": r["canary"],
        "build_s": round(build_s, 3), "setup_s": r["setup_s"], "check_s": r["check_s"],
        "failed_ops": sorted(errors), "wall_s": [pass_wall(p) for p in r["passes"]],
        "check": r["check"],
        "passes": [dict(p, ops=[{k: o[k] for k in ("name", "layer", "secs", "cpu_s", "rows", "error")}
                                for o in p["ops"]]) for p in r["passes"]],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = os.path.join(WORK, "results", f"{a.workload}-sf{sf}-seed{a.seed}-trace{a.trace}")
    if "trace_file" in r:
        shutil.copy(r["trace_file"], stem + ".trace.json")
        record["trace_file"] = os.path.relpath(stem + ".trace.json", ROOT)
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    for name, err in sorted(errors.items()):
        log(f"{name} FAILED: {err}")
    print(json.dumps({k: record.get(k) for k in ("workload", "seed", "sf", "passes", "inputs", "host",
                                                 "canary", "failed_ops", "trace_file")}))
    print(json.dumps({"correct": bad == 0, "attempted": attempted, "failed": bad,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    # turn SIGTERM into SystemExit so run_proc kills the engine JVM first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
