#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. It compiles the engine (src/main/scala)
and the harness (perfbench/harness) with the Scala compiler and Spark jars
that build.sbt names, generates the workload's inputs from the seed, runs
the harness JVM, checks every output against DuckDB, and prints one JSON
line last: end-to-end metrics with `--trace 0`, per-layer metrics from a
traced run with `--trace 1`. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import platform
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen      # noqa: E402
import oracle   # noqa: E402
import layers   # noqa: E402

SCALA = "2.13.17"   # build.sbt's scalaVersion

# The query_tail workload: the SparkEntry queries defined in CoreQueries and
# AnalyticsQueries.
QUERY_TAIL = [
    "q01_agg", "q02_latest_event", "q03_top_desc", "q04_top_asc",
    "q05_movers_union", "q06_global_sort", "q07_scalar_agg",
    "q08_percent_of_total", "q09_case_when", "q10_dashboard_join",
    "q11_explode_words", "q12_filter", "q13_count", "q14_group_distinct",
    "q15_semi_join", "q16_anti_join", "q17_from_unixtime",
    "q42_cube", "q43_percentiles", "q44_stats_moments", "q45_time_bucket",
    "q46_sessionize", "q47_argmax", "q48_json", "q49_regexp",
    "q50_hash_sample", "q51_full_outer", "q52_correlated_subq",
    "q53_string_agg", "q54_vector_centroid", "q55_ivf_ann",
    "q56_union_by_name", "q57_ntile", "q89_funnel", "q94_retention",
    "q102_normalize", "q103_transitions", "q105_trailing_window"]
# The query_heavy workload: bucket-join and materialization queries, one of
# each family (MinHash LSH, prefix join, connected components, Hamming
# index, embedding index, skewed audit join).
QUERY_HEAVY = [
    "q19_minhash_lsh", "q142_prefix_join", "q221_incremental_cc",
    "q363_hamming_capped", "q375_emb_index_dedup", "q378_policy_audit_skew"]
QUERIES = {"query_tail": QUERY_TAIL, "query_heavy": QUERY_HEAVY}
WORKLOADS = ["medallion", *QUERIES]

BACKFILL_POLLS = 12
QUERY_SF = 0.01
# The work of a run depends on --seconds alone, never on how fast the code
# under test is, so two commits are compared on the same work: the nominal
# cost of one unit of work on a 4-core host sets how many units fit.
UNIT_S = {"medallion": 4.0,     # one incremental cycle
          "query_tail": 15.0,   # one pass over the 38 queries
          "query_heavy": 10.5}  # one pass over the 6 queries
# Untimed medallion cycles before the timed ones (Medallion.WarmCycles): the
# JIT is still warming over the first few, cycle times fall by a fifth.
WARM_CYCLES = 3
# build.sbt's javaOptions: the module opens Spark needs on JDK 17.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
RUN_LIMIT_S = 175


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def jars_dir():
    """$SPARK_HOME/jars, else the jar directory build.sbt names
    (`unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def spark_jars():
    jars = sorted(glob.glob(os.path.join(jars_dir(), "*.jar")))
    if not jars:
        fail(f"no Spark jars under {jars_dir()}")
    return jars


def build():
    """Compile engine + harness into the build dir, unless the sources are
    unchanged since the last build there."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala: run from a graft checkout")
    harness = sorted(glob.glob(os.path.join(HERE, "harness/**/*.scala"),
                               recursive=True))
    jars = spark_jars()
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = os.path.join(out, "classes")
    h = hashlib.sha256(SCALA.encode())
    for p in engine + harness:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "classes.sha256")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars_dir(), f"scala-{m}-{SCALA}.jar")
                for m in ("compiler", "library", "reflect")]
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-classpath", ":".join(jars), "-d", classes]
                          + engine + harness))
    t = time.perf_counter()
    proc = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g",
                           "-cp", ":".join(compiler),
                           "scala.tools.nsc.Main", "@" + argfile],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("compilation failed", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.perf_counter() - t:.1f} s", file=sys.stderr)
    return classes, stamp


def heap():
    """Tier-1's heap rule: half of RAM, at least 2g, at most 8g."""
    kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
              if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def loop_seconds():
    """How long a fixed pure-Python loop takes: a coarse reading of how fast
    the host is right now, to tell ambient drift from code changes."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return time.perf_counter() - t


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def machine(seed, cores, stamp):
    commit = None
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                capture_output=True, text=True).stdout.strip() or None
    except OSError:
        pass
    return {"master": f"local[{cores}]", "cores": cores, "heap": heap(),
            "load_avg": list(os.getloadavg()), "loop_s": loop_seconds(),
            "python": platform.python_version(),
            "git_commit": commit, "source_sha256": stamp, "seed": seed}


def work_units(workload, seconds, traced):
    """Timed medallion cycles or query passes of a run. A traced run needs
    at least two: it traces every other one and compares."""
    return max(2 if traced else 1, round(seconds / UNIT_S[workload]))


def cap_seconds(seconds):
    """The longest the timed phase may take before the run fails."""
    return 4 * seconds + 20


def generate(workload, seed, seconds, traced, work):
    units = work_units(workload, seconds, traced)
    if workload == "medallion":
        gen.medallion_inputs(seed, os.path.join(work, "medallion"),
                             BACKFILL_POLLS, WARM_CYCLES + units)
        return
    gen.write_tables(seed, os.path.join(work, "tables"), QUERY_SF)
    passes = gen.query_order(seed, QUERIES[workload], units)
    with open(os.path.join(work, "query_order.txt"), "w") as f:
        f.write("\n".join(",".join(p) for p in passes) + "\n")


def run_harness(classes, workload, work, cap, traced, cores, deadline):
    cp = ":".join([classes] + spark_jars())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in /tmp, so nothing is written
    # outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap()}", "-Xmn2g",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Harness", workload, work,
              str(cap), "1" if traced else "0", str(cores)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = open(os.path.join(work, "harness.log"), "w")
    launched = time.time()
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                            cwd=work)
    try:
        code = proc.wait(timeout=max(10, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        fail("harness exceeded the run's time limit")
    finally:
        # also on SIGTERM (see main) or any error: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if code != 0:
        sys.stderr.write(open(os.path.join(work, "harness.log")).read()[-4000:])
        fail(f"harness exited with {code}")
    out = json.load(open(os.path.join(work, "harness.json")))
    out["launched_epoch_ms"] = launched * 1000
    return out


def tail(values):
    """(percentile, value, samples): the highest whole percentile that has
    at least ten samples beyond it (nearest-rank). With fewer than 21
    samples no percentile above the median qualifies, and the slowest
    sample (p100) is reported instead."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 50, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= 10:
            return p, xs[rank - 1], n
    return 100, xs[-1], n


def check(workload, work, res):
    """(attempted, failed, details) over every output of the run."""
    if workload == "medallion":
        landing = os.path.join(work, "medallion", "landing")
        files = sorted(glob.glob(os.path.join(landing, "*coincap_data_*.json")),
                       key=lambda p: os.path.basename(p).removeprefix("read_"))
        n_backfill = res["backfill"]["polls"]
        backfill_ts = files[n_backfill - 1]
        verdicts = oracle.check_medallion(
            work, files[:n_backfill], files, run_ts_of(backfill_ts),
            res["final_run_ts"])
        if res.get("pending_after"):
            verdicts["landing"] = f"{res['pending_after']} polls never consumed"
        ops = 1 + len(res["cycles"])
        return ops, (0 if all(v is None for v in verdicts.values()) else ops), verdicts
    sql = json.load(open(os.path.join(work, "oracle_sql.json")))
    verdicts = oracle.check_queries(work, oracle.expected_digests(
        os.path.join(work, "tables"), sql))
    for name, err in res["check_errors"].items():
        verdicts[name] = err
    bad = {n for n, v in verdicts.items() if v is not None}
    bad |= {o["query"] for o in res["ops"] if "error" in o}
    failed = sum(1 for o in res["ops"] if o["query"] in bad)
    return len(res["ops"]), failed, verdicts


def run_ts_of(path):
    s = os.path.basename(path).removeprefix("read_").removeprefix("coincap_data_")
    return f"{s[0:4]}-{s[4:6]}-{s[6:8]} {s[9:11]}:{s[11:13]}:{s[13:15]}"


def end_to_end(workload, res, setup_s):
    if workload == "medallion":
        lat = [c["s"] for c in res["cycles"]]
    else:
        lat = [o["s"] for o in res["ops"]]
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_s.p50": (statistics.median(lat), "s"),
        "ops_per_s": (len(lat) / sum(lat), "1/s"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024, "MB"),
    }
    # reported beside the metrics, not as one: too few operations per run
    # for a steady tail (see README.md)
    p, tail_s, n = tail(lat)
    info = {"op": "cycle" if workload == "medallion" else "query",
            "op_s.tail": tail_s, "tail_percentile": p, "samples": n,
            "op_s": (lat if workload == "medallion"
                     else [[o["query"], o["s"]] for o in res["ops"]])}
    return metrics, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an error, so the JVM is stopped and the work
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + RUN_LIMIT_S

    classes, stamp = build()
    # the build may take long on a fresh checkout; the run's limit starts now
    deadline = max(deadline, time.monotonic() + RUN_LIMIT_S - 30)
    cores = len(os.sched_getaffinity(0))
    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = machine(a.seed, cores, stamp)
    try:
        ticks0 = cpu_ticks()
        t = time.perf_counter()
        generate(a.workload, a.seed, a.seconds, a.trace == 1, work)
        gen_s = time.perf_counter() - t
        res = run_harness(classes, a.workload, work, cap_seconds(a.seconds),
                          a.trace == 1, cores, deadline)
        # generation + JVM and session start + untimed warm-up
        setup_s = (gen_s + (res["session_ready_epoch_ms"] - res["launched_epoch_ms"]) / 1000
                   + sum(res["warm_s"]))
        attempted, failed, verdicts = check(a.workload, work, res)
        bad = {k: v for k, v in verdicts.items() if v is not None}
        if bad:
            print(f"perfbench: output check failed: {json.dumps(bad)}", file=sys.stderr)
        # the share of CPU time the hypervisor gave to other guests while
        # the run ran: high values mean a noisy host, not slow code
        ticks1 = cpu_ticks()
        env["steal_share"] = ((ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
                              if ticks1[1] > ticks0[1] else 0.0)
        env.update(jvm=res["jvm"], heap_max_mb=res["heap_max_mb"],
                   spark=res["spark_version"], workload=a.workload,
                   seconds=a.seconds, trace=a.trace)
        if a.trace:
            trace_path = os.path.join(bench_dir, "traces",
                                      f"{a.workload}-seed{a.seed}.jsonl")
            metrics = layers.per_layer(a.workload, work, res,
                                      os.path.join(ROOT, "src", "main", "scala"),
                                      trace_path, QUERIES.get(a.workload))
            info = {"trace_file": os.path.relpath(trace_path, ROOT)}
        else:
            metrics, info = end_to_end(a.workload, res, setup_s)
        print(json.dumps({"machine": env, "info": info, "setup_s": setup_s,
                          "generation_s": gen_s}))
        print(json.dumps({
            "correct": not bad, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        sys.exit(0 if not bad else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
