#!/usr/bin/env python3
"""Run one measured benchmark run of the graft engine.

    python3 chainbench/run.py --workload bulk_load --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The first run in a checkout builds
the engine and the harness from source with sbt, materializes the block
corpus and computes the DuckDB oracle results; later runs reuse all three
(kept under .chainbench/, keyed by a hash of the sources). Each run then
starts one JVM, which sets up the workload's seeded inputs, measures for
--seconds, checks every output, and writes a record. The last line printed
is the result JSON; the line before it is the run record, which carries the
seed, the host-load probes and the workload's own named figures.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".chainbench")

# Engine settings, recorded in every run record. Scale 1 is the 50k-block
# corpus; see README.md for why not 3.
SCALE = 1
HEAP = "4g"
WORKLOADS = ("bulk_load", "tip_follow")

# The same module openings the repository's build passes to forked mains
# (Spark on JDK 17 outside spark-submit).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

RUN_TIMEOUT_S = 170
FIRST_RUN_TIMEOUT_S = 880


def log(msg):
    print(f"[chainbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_stamp():
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


_children = []


def _stop_children(signum, frame):
    """On SIGTERM / SIGINT, kill the running child's process group and wait
    for it, so no JVM outlives the benchmark."""
    for p in _children:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    raise SystemExit(f"stopped by signal {signum}")


def run_checked(cmd, timeout, cwd=ROOT, env=None):
    """Run a child to completion; a timeout kills it and waits for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    _children.append(p)
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"{cmd[0]} timed out after {timeout:.0f} s")
    finally:
        _children.remove(p)
    if rc != 0:
        raise SystemExit(f"{' '.join(cmd[:3])} ... exited with {rc}")


def build(stamp, deadline):
    """Compile the engine and the harness once per source state; returns
    the runtime classpath."""
    cp_file = os.path.join(WORK, "build", f"classpath-{stamp}.txt")
    if not os.path.exists(cp_file):
        log(f"building from source (stamp {stamp})")
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        run_checked(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                     f"-Djava.io.tmpdir={tmp}", "writeClasspath"],
                    deadline - time.time(), cwd=BENCH)
        os.makedirs(os.path.dirname(cp_file), exist_ok=True)
        shutil.copy(os.path.join(BENCH, "target", "classpath.txt"), cp_file)
    with open(cp_file) as fh:
        return fh.read().strip()


def jvm(classpath, args, timeout):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "chainbench.Main"] + args
    env = dict(os.environ)
    env["SPARK_GRAFT_CORPUS_DIR"] = corpus_dir()
    env["SPARK_GRAFT_CORPUS_SCALE"] = str(SCALE)
    # behaviour knobs are never inherited into the measured engine
    for k in list(env):
        if k in ("SPARK_GRAFT_BROADCAST_MAX_ROWS", "SPARK_GRAFT_TRACE") or \
                k.startswith("SPARK_GRAFT_BENCH_"):
            del env[k]
    run_checked(cmd, timeout, env=env)


def corpus_dir():
    return os.path.join(WORK, f"corpus_x{SCALE}")


def oracle_dir():
    return os.path.join(WORK, f"oracle_x{SCALE}")


def snapshot_dir():
    """tip_follow's caught-up store, made once per checkout."""
    return os.path.join(WORK, f"tip_store_x{SCALE}")


def run_dir(workload):
    return os.path.join(WORK, "run", workload)


def prepared(stamp):
    done = os.path.join(oracle_dir(), "_DONE")
    if not os.path.exists(done):
        return False
    with open(done) as fh:
        return fh.read() == stamp


def prepare(classpath, stamp, deadline):
    """Materialize the corpus, write every oracle result as parquet, and
    drain tip_follow's backlog, once per source state (the caught-up store
    is the engine's own output)."""
    if prepared(stamp):
        return
    odir = oracle_dir()
    import duckdb
    log("materializing the corpus and the oracle results")
    # start from an empty oracle directory: the runs cache each oracle's
    # digest beside its parquet, and a digest of an older oracle must not
    # outlive it
    shutil.rmtree(odir, ignore_errors=True)
    os.makedirs(odir)
    sql_file = os.path.join(odir, "oracle_sql.json")
    jvm(classpath, ["prepare", f"work={os.path.join(WORK, 'prepare')}",
                    f"oracle_sql={sql_file}", f"tip_work={run_dir('tip_follow')}",
                    f"snapshot={snapshot_dir()}", f"cores={cores()}"], deadline - time.time())
    with open(sql_file) as fh:
        sqls = json.load(fh)
    con = duckdb.connect()
    con.execute(f"SET threads TO {cores()}")
    con.execute("SET memory_limit = '3GB'")
    con.execute(f"SET temp_directory = '{os.path.join(WORK, 'tmp', 'duckdb')}'")
    for name, sql in sqls.items():
        t = time.time()
        con.execute(f"COPY ({sql}) TO '{os.path.join(odir, name + '.parquet')}' (FORMAT PARQUET)")
        log(f"oracle {name}: {time.time() - t:.1f} s")
    odir_pq = lambda n: f"read_parquet('{os.path.join(odir, n + '.parquet')}')"
    # wallet labels of the final best chain's funders: the bk5 clusters
    # restricted to addresses that fund a best-chain transaction (every
    # such address is a source of some flow edge)
    con.execute(f"COPY (SELECT address, wallet_id FROM {odir_pq('bk5_wallet_clusters')} "
                f"WHERE address IN (SELECT src FROM {odir_pq('flow_edges')})) TO "
                f"'{os.path.join(odir, 'tip_labels.parquet')}' (FORMAT PARQUET)")
    con.close()
    with open(os.path.join(odir, "_DONE"), "w") as fh:
        fh.write(stamp)


def _burn(n):
    buf = b"\x5a" * 65536
    for _ in range(n):
        hashlib.sha256(buf).digest()


def probe():
    """Fixed-work CPU probe: one thread, then the same work on every core
    at once (wall of the slowest). A quiet host reads the two alike; a
    contended one reads them slower. Reported, never used to discard."""
    n = 2000
    t = time.perf_counter()
    _burn(n)
    single = (time.perf_counter() - t) * 1e3
    threads = [threading.Thread(target=_burn, args=(n,)) for _ in range(cores())]
    t = time.perf_counter()
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    full = (time.perf_counter() - t) * 1e3
    return {"probe_ms": round(single, 3), "full_probe_ms": round(full, 3),
            "loadavg_1m": os.getloadavg()[0]}


def load_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)

    # the engine's sources and build must be in the checkout
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("chainbench", "src", "main", "scala", "chainbench")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"missing {need}: run from the root of a full source checkout")
            return 2
    bench = load_metrics()
    os.makedirs(WORK, exist_ok=True)
    stamp = source_stamp()
    deadline = started + (RUN_TIMEOUT_S if prepared(stamp) else FIRST_RUN_TIMEOUT_S)
    classpath = build(stamp, deadline)
    prepare(classpath, stamp, deadline)

    work = run_dir(a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    before = probe()
    t_jvm = time.time()
    jvm(classpath, ["run", f"workload={a.workload}", f"seed={a.seed}", f"seconds={a.seconds}",
                    f"trace={a.trace}", f"work={work}", f"oracle={oracle_dir()}",
                    f"snapshot={snapshot_dir()}", f"out={out}", f"cores={cores()}"],
        deadline - time.time())
    jvm_s = time.time() - t_jvm
    after = probe()
    with open(out) as fh:
        rec = json.load(fh)
    spans = os.path.join(work, "spans.jsonl")
    if a.trace:
        keep = os.path.join(WORK, "spans", f"{a.workload}-seed{a.seed}.jsonl")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        shutil.copy(spans, keep)
        rec["spans_file"] = os.path.relpath(keep, ROOT)
    shutil.rmtree(work, ignore_errors=True)

    rec["probe_before"], rec["probe_after"] = before, after
    rec["heap"] = HEAP
    rec["jvm_s"] = jvm_s
    rec["wall_s"] = time.time() - started
    if a.trace:
        wanted = bench["per_layer"]
        got = rec["layers"]
    else:
        wanted = bench["end_to_end"]
        got = rec
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    with open(os.path.join(WORK, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    print(json.dumps({"chainbench": {k: v for k, v in rec.items() if k != "layers"}}))
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
