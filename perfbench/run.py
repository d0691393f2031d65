#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Steps:
  1. builds the harness (`perfbench/`, an sbt project over the checkout's
     engine sources) unless a build of the same sources is already there;
  2. generates the workload's input tables from `--seed` (gen.py);
  3. runs one harness JVM on local[nproc]: set-up, then a closed loop for
     `--seconds`, then the workload's own output checks;
  4. for read_mix, hashes every query's result against its DuckDB oracle;
  5. prints a record line with the run's metadata, then, as the last line,
     `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
     with `--trace 0`, the per-layer metrics with `--trace 1`.
Exits non-zero when the engine sources are missing, the build or the JVM
fails, or any output check fails.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

# workload -> (tables to generate, scale factor)
INPUTS = {
    "read_mix": (gen.TABLES, 0.01),
    "commit_small": (["orders"], 0.01),
}
DEADLINE_S = 175
BUILD_TIMEOUT_S = 800
# the harness JVM's heap, the same on every run so runs compare
DRIVER_MEM = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the harness build depends on, engine sources included."""
    out = []
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project"),
                os.path.join(ROOT, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return out + [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(sha):
    """Compile the harness and the engine; reuse a build of the same sources.
    Returns the runtime classpath and the engine's --add-opens flags."""
    target = os.path.join(HERE, "target")
    stamp = os.path.join(target, "source.sha")

    def built():
        with open(os.path.join(target, "classpath.txt")) as fh:
            cp = fh.read().strip()
        with open(os.path.join(target, "add-opens.txt")) as fh:
            return cp, [x for x in fh.read().split("\n") if x]

    if os.path.exists(stamp) and open(stamp).read() == sha:
        return built()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true -Dsbt.server.autostart=false"
        if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
            opts += " -Dsbt.override.build.repos=true"
    env["SBT_OPTS"] = opts.strip()
    log("building the harness and the engine (sbt compile)")
    t0 = time.time()
    rc = wait(subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL), BUILD_TIMEOUT_S)
    if rc != 0:
        raise SystemExit(f"[perfbench] build failed (sbt exit {rc})")
    log(f"build took {time.time() - t0:.0f}s")
    with open(stamp, "w") as fh:
        fh.write(sha)
    return built()


def wait(proc, timeout):
    """Wait for a child; kill it, and wait again, on timeout or interrupt."""
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        proc.kill()
        proc.wait()
        raise


def other_jvms():
    """Other live sbt or Spark JVMs: they share this host's cores and would
    skew every timing, so a run made next to one is flagged."""
    found = []
    mine = {os.getpid(), os.getppid()}
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in mine:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd and any(k in cmd for k in (
                "sbt-launch", "xsbt.boot", "org.apache.spark", "perfbench.Main")):
            found.append(f"{pid}: {cmd[:120]}")
    return found


def cpu_times():
    """(steal, total) jiffies of all CPUs: the share stolen by the hypervisor
    during a run says how much other guests on the host slowed it."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def commit_hash():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_hash(df):
    """Order- and column-order-independent hash of a result frame."""
    cols = sorted(df.columns)
    rows = sorted(tuple(canon(v) for v in r)
                  for r in df[cols].itertuples(index=False))
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x1f".join(r) + "\x1e").encode())
    return cols, h.hexdigest(), len(rows)


def oracle_check(oracles, data_dir, results_dir):
    """Failures of Spark results against the DuckDB oracle SQL."""
    import duckdb
    con = duckdb.connect()
    for t in gen.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    fails = []
    for name, sql in sorted(oracles.items()):
        try:
            got = frame_hash(con.execute(
                f"SELECT * FROM '{results_dir}/{name}/*.parquet'").df())
            want = frame_hash(con.execute(sql).df())
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            fails.append(f"{name}: {str(e).splitlines()[0][:200]}")
            continue
        if got != want:
            fails.append(f"{name}: result {got[0]} / {got[2]} rows differs "
                         f"from oracle {want[0]} / {want[2]} rows")
    return fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    # a terminated runner still stops its children (see wait) and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] no engine sources (src/main/scala/graft) "
                         "in this checkout: nothing to build or measure")
    others = other_jvms()
    for o in others:
        log(f"WARNING: another sbt/Spark JVM is running, timings are suspect: {o}")

    sha = source_sha()
    classpath, opens = build(sha)

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return measure(args, started, work, wanted, others, sha, classpath, opens)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, started, work, wanted, others, sha, classpath, opens):
    """Generate inputs, run the harness JVM, check outputs, print results."""
    cpus = len(os.sched_getaffinity(0))
    data = os.path.join(work, "data")
    tables, sf = INPUTS[args.workload]
    gen.generate(data, tables, sf, args.seed)
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + opens + [
        f"-Xmx{DRIVER_MEM}", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", work, "--out", out, "--cpus", str(cpus)]
    steal0, total0 = cpu_times()
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        rc = wait(proc, max(10, DEADLINE_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        raise SystemExit("[perfbench] harness JVM timed out")
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"[perfbench] harness JVM failed (exit {rc})")
    steal1, total1 = cpu_times()
    with open(out) as fh:
        res = json.load(fh)

    failures = list(res["failures"])
    attempted, failed = res["attempted"], res["failed"]
    if res["oracles"]:
        oracle_fails = oracle_check(res["oracles"], data,
                                    os.path.join(work, "results"))
        attempted += len(res["oracles"])
        failed += len(oracle_fails)
        failures += oracle_fails
    for f in failures:
        log(f"FAILED: {f}")

    measured = res["per_layer"] if args.trace else res["end_to_end"]
    unknown = sorted(set(measured) - {m["name"] for m in wanted})
    if unknown:
        raise SystemExit(f"[perfbench] harness reports undeclared metrics {unknown}")
    if args.trace:
        # a layer the workload never calls reports 0: calls, jobs, time
        measured = {m["name"]: measured.get(m["name"], 0.0) for m in wanted}
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        raise SystemExit(f"[perfbench] harness did not measure {missing}")
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
               for m in wanted}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "ops": res["ops"], "cycles": res["cycles"],
        "nproc": os.cpu_count(), "cpus": cpus, **res["meta"],
        "driver_mem": DRIVER_MEM, "commit": commit_hash(), "source_sha": sha,
        "other_jvms": len(others),
        "cpu_steal_share": round((steal1 - steal0) / max(1, total1 - total0), 4),
        "failures": failures[:20],
        "wall_s": round(time.time() - started, 1)}
    print(json.dumps({"record": record}))
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        os.replace(spans, os.path.join(HERE, ".work", f"spans-{args.workload}.jsonl"))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
