#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, into `target/` directories), generates every
workload's input (graft.ScaleGen) and computes its DuckDB oracle results.
Later runs reuse each of the three while its sources are unchanged: the
build is keyed on a hash of the build files, `src/main` and the harness,
the input on the ScaleGen and harness sources, and the oracle results on
the input and the oracle SQL text. Everything else a run writes stays
under `.bench_build/perfbench/`.

A run is one JVM with a Spark `local[cpus]` session and one closed-loop
client: set-up (session + Graft.install, several times, median kept), a cold
pass whose results are written out and compared here against the DuckDB
oracle (`SparkEntry.oracleSql`), then one warm pass, and more until
`--seconds` of warm time. The seed permutes the op order of every warm pass.
A run whose machine was disturbed (CPU steal or a calibration drift) is
stamped invalid in its artifact and on the line before the result; it is
not measured again, so that every run keeps to the same time budget.

The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
The end-to-end timings are CPU seconds of the benchmark JVM; wall-clock
latency and throughput are printed on a line above the JSON.
The full record of the run (per-op timings, failures, drift guard, spans)
is written to `.bench_build/perfbench/artifacts/`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import pyarrow.dataset as pads
import pyarrow.parquet as pq

# Each workload: the scale factor of its ScaleGen input and its ops. Both
# run at sf0.01, a reference fixture scale: a run pays a fresh JVM, a cold
# pass and its warm passes, and the benchmark's whole time budget holds
# only ops of about a second. The d03 oracle is all-pairs Jaccard in DuckDB
# as well, over a minute at sf0.01 and ~100x that at sf0.1. A warm pass
# takes 3-5 s on a 4-vCPU VM; a run makes more only while it has measured
# less than `--seconds`.
WORKLOADS = {
    "tpch_sf001": {"sf": 0.01, "ops": [
        "tpch_q01", "tpch_q05", "tpch_q18", "tpch_q21"]},
    "pipeline_etl": {"sf": 0.01, "ops": [
        "d03_minhash_pairs", "st04_stream_stream_join", "layout_bucketed_tpch"]},
}
LAYOUT_OP = "layout_bucketed_tpch"
SETUPS = 5          # set-ups per run; the median is reported
WARM_PASSES = 1     # warm passes every run makes, more only until --seconds
HEAP = "3g"         # driver heap of the benchmark JVM
MAX_CPUS = 4        # local[min(nproc, MAX_CPUS)]
JVM_TIMEOUT_S = 160
# a run whose single-thread calibration moved by more than this factor
# between its start and its end, or whose CPUs lost more than this share of
# their time to other tenants (steal) during its cold or its warm passes, is
# stamped invalid in its artifact and on the line before the result
DRIFT_LIMIT = 1.25
STEAL_LIMIT_PCT = 2.0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

ROOT = Path.cwd()
STATE = ROOT / ".bench_build" / "perfbench"
# what the compiled classes are built from, and what the input is made by
BUILD_SOURCES = ["build.sbt", "project", "src/main", "perfbench/harness"]
GEN_SOURCES = ["src/main/scala/graft/ScaleGen.scala",
               "perfbench/harness/src/main/scala/perfbench/Harness.scala"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout
    so no child outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} ran over {timeout} s; killed")
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def digest(paths, *extra):
    """sha256 of the files under `paths` (relative to the checkout; build
    output and hidden directories skipped), their names and `extra`."""
    h = hashlib.sha256()
    for x in extra:
        h.update(f"{x}\0".encode())
    for rel in paths:
        base = ROOT / rel
        # sbt reads only the top level of the root's project/
        found = base.glob("*") if rel == "project" else base.rglob("*")
        files = [base] if base.is_file() else sorted(
            f for f in found if f.is_file() and not any(
                p == "target" or p.startswith(".") for p in f.relative_to(base).parts))
        for f in files:
            h.update(f"{f.relative_to(ROOT)}\0".encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness; return the classpath. A checkout's classes
    are reused while the hash of their sources is the one they were built
    from; otherwise sbt recompiles (incrementally, into the same `target/`
    directories)."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit("perfbench: no engine sources here (build.sbt, src/main); "
                         "run from the root of a graft checkout")
    key = digest(BUILD_SOURCES)
    cp_file, key_file = STATE / "classpath.txt", STATE / "classpath.key"
    if cp_file.is_file() and key_file.is_file() and key_file.read_text() == key:
        return cp_file.read_text().strip(), key
    STATE.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    out = STATE / "build.log"
    log("building engine + harness (sbt) ...")
    with open(out, "w") as f:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], 780,
                       cwd=ROOT / "perfbench" / "harness", stdout=f,
                       stderr=subprocess.STDOUT, env=env)
    lines = out.read_text().splitlines()
    cps = [l for l in lines if ".jar" in l and ":" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"perfbench: build failed (rc={rc}), see {out}")
    cp_file.write_text(cps[-1])
    key_file.write_text(key)
    return cps[-1], key


def java(cp, args, work, cpus, timeout, stdout=None):
    work.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=str(work / "local"))
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness"] + args
    return run_child(cmd, timeout, cwd=work, env=env, stdout=stdout or sys.stderr,
                     stderr=sys.stderr)


def fresh_dir(parent, prefix, key):
    """`parent/prefix-key`, with the entries of other keys removed."""
    d = parent / f"{prefix}-{key}"
    for old in parent.glob(f"{prefix}-*"):
        if old != d:
            shutil.rmtree(old, ignore_errors=True)
    return d


def ensure_data(cp, sf, cpus):
    d = fresh_dir(STATE / "data", f"sf{sf}", digest(GEN_SOURCES, sf))
    if d.is_dir():
        return d
    work = STATE / "gen-work"
    shutil.rmtree(work, ignore_errors=True)
    log(f"generating ScaleGen sf{sf} input ...")
    t0 = time.time()
    rc = java(cp, ["gen", str(sf), str(d), str(work)], work, cpus, 170)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not d.is_dir():
        raise SystemExit(f"perfbench: input generation failed (rc={rc})")
    log(f"generated sf{sf} in {time.time() - t0:.1f} s")
    return d


def oracle_sql(cp, build_key, cpus):
    """op -> DuckDB oracle SQL (`SparkEntry.oracleSql`) of every workload's
    ops, dumped by the JVM once per build."""
    d = fresh_dir(STATE / "oracle", "sql", build_key)
    if not (d / "sql.json").is_file():
        work = d.with_name(d.name + ".work")
        ops = sorted({op for w in WORKLOADS.values() for op in w["ops"]})
        rc = java(cp, ["oracles", str(work / "sql.json"), ",".join(ops)], work, cpus, 170)
        if rc != 0:
            raise SystemExit(f"perfbench: oracle SQL dump failed (rc={rc})")
        d.mkdir(parents=True, exist_ok=True)
        (work / "sql.json").rename(d / "sql.json")
        shutil.rmtree(work, ignore_errors=True)
    return json.loads((d / "sql.json").read_text())


def ensure_expected(name, wl, data, sqls):
    """The DuckDB oracle's result for every op of a workload that has one.
    It depends only on the oracle SQL text and the input, and is kept under
    a hash of both."""
    sql = {op: sqls[op] for op in wl["ops"] if op in sqls}
    d = fresh_dir(STATE / "oracle", name, digest([], data.name, json.dumps(sql, sort_keys=True)))
    if (d / "DONE").is_file():
        return d
    import duckdb
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    log(f"computing the DuckDB oracle results of {name} ...")
    con = duckdb.connect()
    for t in sorted(p.stem for p in data.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    for op, q in sql.items():
        pq.write_table(con.sql(q).fetch_arrow_table(), str(d / f"{op}.parquet"))
    (d / "DONE").touch()
    return d


def oracle_check(check_dir, expected, ops):
    """op -> reason, for every op whose result differs from its oracle's,
    by the comparison rules of the repository's correctness gate."""
    sys.path.insert(0, str(ROOT / "scripts"))
    from check import table_rows
    bad = {}
    for op in ops:
        exp_file = expected / f"{op}.parquet"
        if not exp_file.is_file():
            continue
        try:
            got = pads.dataset(str(check_dir / op)).to_table()
        except Exception as e:
            bad[op] = f"no result: {str(e)[:200]}"
            continue
        exp = pq.read_table(exp_file)
        gc, ec = sorted(got.column_names), sorted(exp.column_names)
        if gc != ec:
            bad[op] = f"schema {gc} vs oracle {ec}"
        elif got.num_rows != exp.num_rows:
            bad[op] = f"rows {got.num_rows} vs oracle {exp.num_rows}"
        else:
            g, e = table_rows(got, gc), table_rows(exp, ec)
            if g != e:
                i = next(i for i, (a, b) in enumerate(zip(g, e)) if a != b)
                bad[op] = f"value row{i}: spark={g[i]} oracle={e[i]}"[:400]
    return bad


# ---- metrics ------------------------------------------------------------

def end_to_end(res):
    """The gated metrics, and the wall-clock figures printed beside them.
    Every timing that is gated is CPU time of the whole benchmark JVM
    (every thread: driver, executors, JIT, GC; user + system). A kernel
    with paravirtual steal accounting keeps steal out of a task's CPU time.
    On the shared VM this was tuned on, other tenants take 10-30% of the
    CPUs for minutes at a time; that slows wall time by up to 1.9x and
    raises these figures by 10-20%. Wall-clock latency and throughput are
    printed and kept in the artifact.

    Every op runs in at least one warm pass, its second run in the JVM.
    When more passes followed, an op's figure is its fastest warm run and
    a pass figure is that of the fastest pass. A pass holds 3-4 very
    different ops, so their median jumps between neighbouring ops from run
    to run; the geometric mean (TPC-H's power-test aggregate) weighs every
    op's relative change equally."""
    warm = [r for r in res["records"] if r["kind"] == "warm"]
    cold = [r for r in res["records"] if r["kind"] == "cold"]
    wpass = [p for p in res["passes"] if p["kind"] == "warm"]

    def best(key):
        b = {}
        for r in warm:
            if r["ok"]:
                b[r["op"]] = min(b.get(r["op"], math.inf), r[key])
        return list(b.values())

    lat, cpu = best("wall_s"), best("proc_cpu_s")
    m = {
        "setup_s": (statistics.median(res["setup_cpu_s"]), "s"),
        "cold_pass_cpu_s": (sum(r["proc_cpu_s"] for r in cold), "s"),
        "warm_pass_cpu_s": (min(p["proc_cpu_s"] for p in wpass), "s"),
        "query_cpu_geomean_s": (statistics.geometric_mean(cpu), "s"),
        # the heap grows by each op's retained execution data, so its peak
        # is taken over the passes every run makes
        "heap_live_peak_mb": (max(p["heap_live_mb"] for p in res["passes"]
                                  if p["pass"] <= WARM_PASSES), "MB"),
    }
    wall = {
        "setup_wall_s": statistics.median(res["setup_s"]),
        "cold_pass_s": sum(r["wall_s"] for r in cold),
        "throughput_qps": max(sum(r["ok"] for r in warm if r["pass"] == p["pass"])
                              / p["wall_s"] for p in wpass),
        "query_geomean_s": statistics.geometric_mean(lat),
        "query_p50_s": statistics.median(lat), "query_max_s": max(lat),
    }
    return m, {"warm_passes": len(wpass), "wall": wall}


# An instant of an op covered by several of its child spans is booked to the
# first of these layers: a stream's micro-batch jobs to the stream, jobs an
# op starts inside its `queries` call to exec, planning that AQE does while
# jobs run to exec.
LAYERS = ["stream.run", "exec", "plans.plan", "queries.build", "session"]


def split_op(op, kids):
    """Seconds of an op span booked to each layer, and to "op" itself where
    none of its children covers it."""
    ends = lambda s: (s["start_ns"], s["start_ns"] + s["dur_ns"])
    cuts = sorted({t for s in [op] + kids for t in ends(s)})
    booked = {}
    for a, b in zip(cuts, cuts[1:]):
        on = [k["name"] for k in kids if ends(k)[0] <= a and b <= ends(k)[1]]
        layer = min(on, key=LAYERS.index) if on else "op"
        booked[layer] = booked.get(layer, 0.0) + (b - a) / 1e9
    return booked


def per_layer(res, spans):
    recs = res["records"]
    tw = [r for r in recs if r["kind"] == "warm" and r["traced"]]
    # warm pass 1 settles the JIT and is on neither side of the overhead;
    # the later passes come in ABBA blocks, so a steady drift in speed
    # (the JIT still finishing) weighs on both sides alike
    uw = [r for r in recs if r["kind"] == "warm" and not r["traced"] and r["pass"] > 1]
    cold = [r for r in recs if r["kind"] == "cold"]
    npass = len({r["pass"] for r in tw})

    def per_pass(key):
        return sum(r.get(key, 0) for r in tw) / npass

    tasks = sum(r["tasks"] for r in tw)
    in_rows = sum(r["in_rows"] for r in tw)
    lay = [r for r in tw if r["op"] == LAYOUT_OP]
    lay_in = sum(r["scan_bytes"] for r in lay)
    lay_out = sum(r["written_bytes"] for r in lay)
    qps = lambda rs: sum(r["ok"] for r in rs) / sum(r["wall_s"] for r in rs)
    traced_qps, untraced_qps = qps(tw), qps(uw)

    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    warm_pass = {s["id"] for s in spans if s["name"] == "pass" and s["op"] == "warm"}
    warm_ops = [s for s in spans if s["name"] == "op" and s["parent"] in warm_pass]
    booked, coverage = {}, []
    for o in warm_ops:
        parts = split_op(o, kids.get(o["id"], []))
        for k, v in parts.items():
            booked[k] = booked.get(k, 0.0) + v
        if o["dur_ns"] > 0:
            coverage.append(1 - parts.get("op", 0.0) * 1e9 / o["dur_ns"])
    op_s = sum(o["dur_ns"] for o in warm_ops) / 1e9

    return {
        "engine.session_s": (statistics.median(res["session_s"]), "s"),
        "queries.build_s": (booked.get("queries.build", 0.0) / npass, "s"),
        "queries.build_share": (booked.get("queries.build", 0.0) / op_s, "ratio"),
        "plans.plan_s": (per_pass("plan_s"), "s"),
        "plans.analysis_ms": (per_pass("analysis_ms"), "ms"),
        "plans.optimize_ms": (per_pass("optimize_ms"), "ms"),
        "plans.physical_ms": (per_pass("physical_ms"), "ms"),
        "plans.aqe_replans": (per_pass("aqe_updates"), "count"),
        "sched.jobs": (per_pass("jobs"), "count"),
        "sched.stages": (per_pass("stages"), "count"),
        "sched.tasks": (per_pass("tasks"), "count"),
        "sched.delay_s": (per_pass("sched_delay_s"), "s"),
        "sched.empty_task_frac": (sum(r["empty_tasks"] for r in tw) / max(1, tasks), "ratio"),
        "driver.nostage_s": (per_pass("nostage_s"), "s"),
        "exec.run_s": (per_pass("run_s"), "s"),
        "exec.cpu_s": (per_pass("cpu_s"), "s"),
        "exec.gc_s": (per_pass("gc_s"), "s"),
        "codegen.compiles": (per_pass("codegen_compiles"), "count"),
        "codegen.compile_s": (per_pass("codegen_s"), "s"),
        "codegen.cold_compiles": (sum(r["codegen_compiles"] for r in cold), "count"),
        "codegen.cold_compile_s": (sum(r["codegen_s"] for r in cold), "s"),
        "scan.bytes": (per_pass("scan_bytes"), "B"),
        "scan.rows": (per_pass("in_rows"), "count"),
        "scan.rows_per_result_row": (in_rows / max(1, npass * res.get("result_rows", 0)), "ratio"),
        "shuffle.write_bytes": (per_pass("shuffle_write"), "B"),
        "shuffle.read_bytes": (per_pass("shuffle_read"), "B"),
        "shuffle.fetch_wait_s": (per_pass("fetch_wait_s"), "s"),
        "spill.mem_bytes": (per_pass("spill_mem"), "B"),
        "spill.disk_bytes": (per_pass("spill_disk"), "B"),
        "cache.mem_bytes": (max(r["cache_mem_bytes"] for r in tw), "B"),
        "stream.batches": (per_pass("stream_batches"), "count"),
        "stream.trigger_s": (per_pass("stream_trigger_s"), "s"),
        "stream.commit_s": (per_pass("stream_commit_s"), "s"),
        "stream.state_rows": (per_pass("stream_state_rows"), "count"),
        "ingest.s": (sum(r["wall_s"] for r in lay) / npass, "s"),
        "ingest.bytes_written": (lay_out / npass, "B"),
        "ingest.write_amp": (lay_out / lay_in if lay_in else 0.0, "ratio"),
        "trace.throughput_qps": (traced_qps, "1/s"),
        "trace.overhead_qps": (untraced_qps - traced_qps, "1/s"),
        "trace.coverage_min": (min(coverage), "ratio"),
        "self.op_s": (booked.get("op", 0.0) / npass, "s"),
        "self.exec_s": (booked.get("exec", 0.0) / npass, "s"),
        "self.session_s": (booked.get("session", 0.0) / npass, "s"),
    }


def valid(drift):
    cal = drift["calibration_s"]
    return (max(cal) <= min(cal) * DRIFT_LIMIT and
            max(drift["steal_cold_pct"], drift["steal_warm_pct"]) <= STEAL_LIMIT_PCT)


def measure(cp, a, wl, data, expected, cpus):
    """One benchmark JVM, and the correctness check of its results."""
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    out = STATE / "runs" / tag
    work = out / "work"
    shutil.rmtree(out, ignore_errors=True)
    args = ["run", f"data={data}",
            f"ops={','.join(wl['ops'])}", f"seed={a.seed}",
            f"seconds={a.seconds}", f"trace={a.trace}", f"cpus={cpus}",
            f"setups={SETUPS}", f"warm_passes={WARM_PASSES}",
            f"out={out}", f"work={work}"]
    rc = java(cp, args, work, cpus, JVM_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not (out / "result.json").is_file():
        raise SystemExit(f"perfbench: benchmark JVM failed (rc={rc})")
    res = json.loads((out / "result.json").read_text())
    res["tag"] = tag

    # correctness: oracle compare of every op's cold-pass result, the
    # layout op by its staged row counts against its sources
    bad = oracle_check(out / "check", expected, wl["ops"])
    for op, v in res["layout_rows"].items():
        for t, (staged, src) in v.items():
            if staged != src:
                bad[op] = f"staged {t} has {staged} rows, source {src}"
    res["wrong_results"] = bad
    res["result_rows"] = sum(pq.ParquetFile(p).metadata.num_rows
                             for p in (out / "check").glob("*/*.parquet"))
    shutil.rmtree(out / "check", ignore_errors=True)
    res["drift"]["valid"] = valid(res["drift"])
    return res


def main():
    # a TERM must still reach the JVM: SystemExit unwinds through run_child,
    # which kills the child's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]
    try:
        cpus = min(len(os.sched_getaffinity(0)), MAX_CPUS)
    except AttributeError:
        cpus = min(os.cpu_count() or 1, MAX_CPUS)

    cp, build_key = build()
    # a checkout's one-time work is all done by its first run
    sqls = oracle_sql(cp, build_key, cpus)
    inputs, expected = {}, {}
    for name, w in WORKLOADS.items():
        inputs[name] = ensure_data(cp, w["sf"], cpus)
        expected[name] = ensure_expected(name, w, inputs[name], sqls)

    t0 = time.time()
    res = measure(cp, a, wl, inputs[a.workload], expected[a.workload], cpus)
    failed = len({(f["op"], f["pass"], f["kind"]) for f in res["failures"]})
    failed += len(res["wrong_results"])
    attempted = len(res["records"])
    for f in res["failures"]:
        log(f"FAILED {f['op']} ({f['kind']} pass {f['pass']}): {f['error']}")
    for op, why in sorted(res["wrong_results"].items()):
        log(f"WRONG RESULT {op}: {why}")

    if a.trace:
        spans = json.loads((STATE / "runs" / res["tag"] / "spans.json").read_text())
        metrics = per_layer(res, spans)
        extra = {}
    else:
        metrics, extra = end_to_end(res)
    extra.update(fail_frac=failed / attempted, wrong_results=res["wrong_results"],
                 run_wall_s=time.time() - t0)
    artifact = dict(res, workload=a.workload, seed=a.seed, trace=a.trace,
                    seconds=a.seconds, sf=wl["sf"], ops=wl["ops"], extra=extra,
                    metrics={k: v for k, (v, _) in metrics.items()})
    (STATE / "artifacts").mkdir(parents=True, exist_ok=True)
    (STATE / "artifacts" / f"{res['tag']}.json").write_text(json.dumps(artifact))
    for k, (v, unit) in metrics.items():
        print(f"{a.workload} {k} = {v:.6g} {unit}")
    print(f"{a.workload} fail_frac = {extra['fail_frac']:.6g} "
          f"({failed} of {attempted} op executions)")
    if not a.trace:
        print(f"{a.workload} wall clock, over {extra['warm_passes']} warm pass(es): " +
              ", ".join(f"{k} {v:.4g}" for k, v in extra["wall"].items()))
    d = res["drift"]
    print(f"{a.workload} drift: calibration {d['calibration_s'][0]:.3f} -> "
          f"{d['calibration_s'][1]:.3f} s, steal {d['steal_cold_pct']:.2f}% cold, "
          f"{d['steal_warm_pct']:.2f}% warm, valid={d['valid']}")
    print(json.dumps({"correct": failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
