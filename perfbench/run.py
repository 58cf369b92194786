#!/usr/bin/env python3
"""Repo benchmark: OLAP over local vs shared-dir shuffle, and a
manifest-table write/read lifecycle.

    python3 perfbench/run.py --workload olap_shared_shuffle --seed 1 \
        --seconds 14 --trace 0

Run from the root of a checkout.  The first run builds the engine and
the harness with sbt (offline) and records the classpath under
`.bench_build/`; later runs reuse it while the sources are unchanged.
Inputs are generated from `--seed` under `.bench_work/`; apart from
sbt's own caches, nothing outside the checkout is written.  The last
line of stdout is one JSON object: `{"correct", "attempted", "failed",
"metrics"}` - the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`.  The line before it (`detail: {...}`) carries
the sample counts, the tail percentile, the input sizes and the host's
steal share.  See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")

OLAP_QUERIES = [
    "q03_shipping_priority", "q201_tpcds_q16_shipping",
    "q202_tpcds_q94_shipping", "q203_tpcds_q95_multi_supplier",
    "q204_tpcds_q5_channel_rollup"]
# Base star schema at sf 0.01 (60k lineitem rows), derived x2 inside the
# engine; the corpus keeps one copy of 500 documents.
OLAP = {"sf": 0.01, "scale": 2, "docs": 500}
LIFECYCLE = {"n_cust": 1500, "n_initial": 150_000, "n_append": 15_000,
             "n_upsert": 3_000, "n_merge": 6_000, "max_cycles": 12,
             "compact_every": 1, "retain": 8}
WORKLOADS = ["olap_shared_shuffle", "lakehouse_lifecycle", "olap_local_shuffle"]
SETUP_REPS = 3
COMMIT_KINDS = ["append", "upsert", "delete", "merge", "mv_refresh",
                "compact", "vacuum"]
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
JVM_TIMEOUT_S = 170
# A fixed, pre-touched heap and the stop-the-world parallel collector: the
# heap's share of peak RSS is then constant, so peak_rss_mb moves with
# off-heap and native memory, and no concurrent GC threads compete with
# the task threads for cores.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build reads, so a stale classpath is never
    reused after a source change."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
            "perfbench/harness/src"]
    for top in tops:
        p = os.path.join(ROOT, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt once per source state; returns
    the runtime classpath."""
    for need in ("build.sbt", "src/main", "perfbench/harness/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} under {ROOT}: run from a full checkout")
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    digest = source_hash()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
            stderr=log, text=True, timeout=840)
        log.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1][:1]:
        fail(f"build failed (exit {r.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cp


def cpu_ticks():
    """The machine-wide counters of the `cpu` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cores():
    return len(os.sched_getaffinity(0))


def prepare_inputs(workload, seed, work):
    """Generates the seeded inputs; returns (harness args, input facts)."""
    if workload == "lakehouse_lifecycle":
        data = os.path.join(work, "inputs")
        expected = gen.lifecycle(seed, data, **{
            k: v for k, v in LIFECYCLE.items() if k != "retain"})
        return (["--data", data, "--retain", str(LIFECYCLE["retain"]),
                 "--cycles-per-pass", str(2 * LIFECYCLE["compact_every"])],
                {"expected": expected})
    base = os.path.join(work, "base")
    rows = gen.olap_base(seed, base, OLAP["sf"], OLAP["docs"])
    rng = random.Random(seed)
    orders = []
    for _ in range(32):
        o = list(OLAP_QUERIES)
        rng.shuffle(o)
        orders.append(",".join(o))
    args = ["--base", base, "--scale", str(OLAP["scale"]),
            "--queries", ",".join(OLAP_QUERIES), "--order", ";".join(orders),
            "--shuffle-root", os.path.join(work, "shuffle-root")]
    return args, {"base_rows": rows}


def run_jvm(cp, workload, args, work, seconds, trace, between):
    """Starts the harness, runs `between(ready)` while it waits, then
    lets it measure. Returns (ready info, between result, harness output)."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in JAVA_OPENS
                      for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += JVM_FLAGS + ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Harness",
            "--workload", workload, "--work", work, "--cores", str(cores()),
            "--seconds", str(seconds), "--trace", str(trace),
            "--setup-reps", str(SETUP_REPS), "--out", out] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                             stderr=log, text=True, cwd=work, env=env)
        watchdog = threading.Timer(JVM_TIMEOUT_S, p.kill)
        watchdog.start()
        try:
            ready = None
            for line in p.stdout:
                if line.startswith("PERFBENCH_READY "):
                    ready = json.loads(line.split(" ", 1)[1])
                    break
            if ready is None:
                fail(f"harness exited during setup; see {log.name}")
            extra = between(ready)
            cpu0 = cpu_ticks()
            p.stdin.write("go\n")
            p.stdin.flush()
            done = any(ln.startswith("PERFBENCH_DONE") for ln in p.stdout)
            cpu1 = cpu_ticks()
            p.wait()
        finally:
            watchdog.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if not done or p.returncode != 0:
        fail(f"harness failed (exit {p.returncode}); see {log.name}")
    # Time the hypervisor gave to other guests while the harness measured:
    # on a shared machine it explains run-to-run spread in the timings.
    d = [b - a for a, b in zip(cpu0, cpu1)]
    extra["steal_share"] = d[7] / sum(d) if sum(d) else 0.0
    with open(out) as f:
        return ready, extra, oracle.decode(f.read())


def check_olap(res, expected):
    """Marks each op ok/failed against the oracle rows of its query."""
    verdicts = {}
    for key, r in res["results"].items():
        cols, rows = expected[r["name"]]
        verdicts[key] = oracle.mismatch(r["columns"], r["rows"], cols, rows)
    return [op.get("error") or verdicts[op["result"]]
            for op in res["ops"] + res["local_ops"]]


def check_lifecycle(res, expected):
    cycles = expected["cycles"]
    last_v = None
    out = []
    for op in res["ops"]:
        if "error" in op:
            out.append(op["error"])
            continue
        rows = res["results"][op["result"]]["rows"]
        exp = cycles[op["cycle"] - 1]
        name = op["name"]
        want = None
        if name == "read_mv":
            got = {s: [n, sa] for s, n, sa in rows}
            want = exp["by_segment"]
        elif name == "read_filter":
            got, want = [rows[0][0], rows[0][1] or 0], exp["slice"]
        elif name == "read_version":
            got, want = [rows[0][0], rows[0][1] or 0], exp["previous"]
        elif name == "state":
            got, want = list(rows[0]), exp["state"]
        elif name == "read_snapshots":
            got = rows[0][1]
            want = got if last_v is None or got > last_v else f"> {last_v}"
            last_v = got
        out.append(None if want is None or got == want
                   else f"{name} cycle {op['cycle']}: got {got}, expected {want}")
    return out


def pass_time(passes, ops):
    """The time of one pass over the op list: for each op of the list,
    its median wall time over `passes`, summed. An op of the list is a
    query (OLAP) or a (verb, cycle position) pair (lifecycle, whose
    passes run the same verbs on new batches). Expected-state checks are
    not timed. The per-op median keeps one slow execution from moving
    the result, where a median over whole passes would need many more
    passes for the same steadiness."""
    nums = {p["pass"] for p in passes}
    first = {}
    walls = {}
    for o in ops:
        if o["pass"] in nums and o["kind"] != "check" and "error" not in o:
            key = (o["name"], o["cycle"] - first.setdefault(o["pass"], o["cycle"]))
            walls.setdefault(key, []).append(o["wall_s"])
    return sum(stats.median(w) for w in walls.values())


def per_layer(res, verdicts, live_rows, extra):
    """Per-layer metrics from the traced passes (see README.md)."""
    ops = res["ops"]
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    nt = max(1, len(traced))
    tops = [o for o in ops if any(o["pass"] == p["pass"] for p in traced)
            and "error" not in o and o["kind"] != "check"]
    # Writes and CALLs execute while their statement is analyzed, so only
    # queries and reads have planning phases apart from execution.
    reads = [o for o in tops if o["kind"] in ("query", "read")]
    pops = [o for o in ops if any(o["pass"] == p["pass"] for p in plain)
            and "error" not in o]
    jobs = [(j["start_ms"], j["end_ms"]) for j in res["jobs"]]
    tasks = [t for t in res["tasks"] if "run_s" in t]

    def tsum(key, xs=tasks):
        return sum(t[key] for t in xs) / nt

    def osum(f, xs=tops):
        return sum(f(o) for o in xs) / nt

    m = {
        "plans.analyze_s": osum(lambda o: o["analyze_s"], reads),
        "plans.optimize_s": osum(lambda o: o["optimize_s"], reads),
        "plans.physical_s": osum(lambda o: o["physical_s"], reads),
        "driver.build_s": osum(lambda o: max(0.0, o["build_s"] - o["analyze_s"]),
                               reads),
        "driver.gap_s": osum(lambda o: max(0.0, o["wall_s"] - stats.covered(
            (o["start_ms"], o["end_ms"]), jobs) / 1e3)),
    }
    mv = [o for o in tops if "rewritten" in o]
    m["plans.mv_rewrite_ratio"] = (
        sum(o["rewritten"] for o in mv) / len(mv) if mv else 0.0)
    for kind in COMMIT_KINDS:
        m[f"sources.{kind}_s"] = stats.median(
            [o["wall_s"] for o in tops if o["kind"] == kind])
    for name, key in (("files_listed", "filesListed"),
                      ("files_skipped", "filesSkipped"),
                      ("files_planned", "filesPlanned"),
                      ("delete_rows_applied", "deleteRowsApplied"),
                      ("segments_pruned", "segmentsPruned")):
        m[f"sources.{name}"] = osum(lambda o: o.get("scan", {}).get(key, 0))
    lake = extra.get("lake")
    data_files, meta_files, size = stats.stored(lake) if lake else (0, 0, 0)
    m["sources.data_files"] = data_files
    m["sources.meta_files"] = meta_files
    m["sources.stored_bytes"] = size
    stages = {}
    for t in tasks:
        stages.setdefault(t["stage"], []).append(t["run_s"])
    ratios = [max(d) / stats.median(d) for d in stages.values()
              if len(d) >= 2 and stats.median(d) > 0]
    m.update({
        "operators.jobs": len(jobs) / nt,
        "operators.stages": len(stages) / nt,
        "operators.tasks": len(res["tasks"]) / nt,
        "operators.task_run_s": tsum("run_s"),
        "operators.task_cpu_s": tsum("cpu_s"),
        "operators.gc_s": tsum("gc_s"),
        "operators.spill_bytes": tsum("spill_bytes"),
        "operators.task_failures": sum(t["failed"] for t in res["tasks"]) / nt,
        "operators.straggler_ratio": stats.median(ratios),
        "shuffle.write_bytes": tsum("shuffle_write_bytes"),
        "shuffle.records_written": tsum("shuffle_records"),
        "shuffle.write_s": tsum("shuffle_write_s"),
        "shuffle.read_local_bytes": tsum("shuffle_local_bytes"),
        "shuffle.read_remote_bytes": tsum("shuffle_remote_bytes"),
        "shuffle.fetch_wait_s": tsum("fetch_wait_s"),
        "shuffle.root_leftover_bytes": extra.get("leftover_bytes", 0),
    })
    commits = [o["wall_s"] for o in pops if o["kind"] in COMMIT_KINDS]
    read_walls = [o["wall_s"] for o in pops if o["kind"] == "read"]
    m.update({
        "lifecycle.commit_p50_s": stats.median(commits),
        "lifecycle.commit_tail_s": stats.tail(commits)[0],
        "lifecycle.read_p50_s": stats.median(read_walls),
        "lifecycle.stored_bytes_per_user_byte":
            size / (live_rows * gen.FACT_ROW_BYTES) if live_rows else 0.0,
        "bench.fail_ratio": sum(v is not None for v in verdicts) / len(verdicts),
        "trace.pass_s": pass_time(traced, ops),
    })
    untraced = pass_time(plain, ops)
    m["trace.overhead_ratio"] = m["trace.pass_s"] / untraced if untraced else 0.0
    local = pass_time([p for p in res["local_passes"] if p["pass"] > 0],
                      res["local_ops"])
    m["shuffle.local_pass_s"] = local
    m["shuffle.shared_over_local_ratio"] = untraced / local if local else 0.0
    return m


UNITS = {"_s": "s", "_bytes": "bytes", "_ratio": "ratio", "_mb": "MB",
         "user_byte": "ratio"}


def unit(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_setup = time.perf_counter()
    hargs, facts = prepare_inputs(a.workload, a.seed, work)
    gen_s = time.perf_counter() - t_setup
    olap = a.workload != "lakehouse_lifecycle"

    def between(ready):
        """Runs while the harness waits: the oracle for OLAP (timed into
        setup), nothing for the lifecycle (its model ran in gen)."""
        if not olap:
            return {"oracle_s": 0.0}
        t = time.perf_counter()
        con = oracle.connect(ready["inputs"]["dir"], work)
        exp = {n: oracle.rows_of(con, sql)
               for n, sql in ready["oracle_sql"].items()}
        con.close()
        return {"oracle_s": time.perf_counter() - t, "expected": exp}

    ready, extra, res = run_jvm(cp, a.workload, hargs, work, a.seconds,
                                a.trace, between)
    setup_s = (gen_s + ready["session_s"] + stats.median(ready["prepare_s"])
               + extra["oracle_s"])

    if olap:
        verdicts = check_olap(res, extra["expected"])
    else:
        verdicts = check_lifecycle(res, facts["expected"])
        extra["lake"] = ready["inputs"]["root"]
        last = max(o["cycle"] for o in res["ops"])
        facts["live_rows"] = facts["expected"]["cycles"][last - 1]["state"][0]
    if a.workload == "olap_shared_shuffle":
        root = os.path.join(work, "shuffle-root")
        files = [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]
        extra["leftover_bytes"] = sum(os.path.getsize(f) for f in files)
        extra["leftover_files"] = len(files)
        shutil.rmtree(root, ignore_errors=True)
    bad = [(o["name"], o["pass"], v)
           for o, v in zip(res["ops"] + res["local_ops"], verdicts) if v]
    for name, p, why in bad[:10]:
        print(f"FAILED {name} (pass {p}): {why}", file=sys.stderr)

    timed = [p for p in res["passes"] if p["pass"] > 0 and not p["traced"]]
    lat = [o["wall_s"] for o in res["ops"]
           if o["kind"] != "check" and "error" not in o
           and any(o["pass"] == p["pass"] for p in timed)]
    tail, pct, n = stats.tail(lat)
    if a.trace:
        metrics = per_layer(res, verdicts, facts.get("live_rows"), extra)
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": pass_time(timed, res["ops"]),
            "op_p50_s": stats.median(lat),
            "op_tail_s": tail,
            "peak_rss_mb": res["peak_rss_mb"],
        }
    detail = {"workload": a.workload, "seed": a.seed, "passes": len(timed),
              "steal_share": round(extra["steal_share"], 4),
              "ops_timed": n, "tail_percentile": round(pct, 2),
              "setup_parts_s": {"generate": gen_s,
                                "session": ready["session_s"],
                                "prepare_reps": ready["prepare_s"],
                                "oracle": extra["oracle_s"]},
              "inputs": dict(ready["inputs"]),
              "shuffle_root_leftover_files": extra.get("leftover_files"),
              "shuffle_root_leftover_bytes": extra.get("leftover_bytes")}
    if olap:
        detail["inputs"]["base_rows"] = facts["base_rows"]
        detail["inputs"]["base_bytes"] = stats.stored(os.path.join(work, "base"))[2]
        detail["inputs"]["derived_bytes"] = stats.stored(ready["inputs"]["dir"])[2]
    else:
        detail["inputs"]["input_bytes"] = stats.stored(os.path.join(work, "inputs"))[2]
    print("detail: " + json.dumps(detail, default=str))
    for sub in ("base", "inputs", "spark-local", "tmp") + tuple(
            f"derived{r}" for r in range(1, SETUP_REPS + 1)) + tuple(
            f"lake{r}" for r in range(1, SETUP_REPS + 1)):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print(json.dumps({
        "correct": not bad, "attempted": len(verdicts), "failed": len(bad),
        "metrics": {k: {"value": v, "unit": unit(k)}
                    for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
