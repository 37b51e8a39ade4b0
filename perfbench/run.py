#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. It builds the engine and the
benchmark from source (sbt, offline) when the sources changed, runs the
workload closed loop in one JVM at local[nproc], checks every output, and
prints as its last line one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics untraced, the per-layer
metrics traced. The line before it holds the workload's detailed figures.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
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
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ["build", "catalog"]

# Input sizes, fixed for every run and commit; see README.md for how they
# were chosen.
BUILD_FILES = 1500
# the catalog's input: a copy of the repository's sf0.001 test tables
# (TESTDATA.md), for which the engine commits fixture oracles of its
# approximate (ops) entries
CATALOG_DIR = os.path.join(HERE, "data", "sf0.001")
SETUP_REPS = 3
# closed-loop cycles run before timing starts. A JVM's builds keep getting
# faster (JIT): about 13, 6 and 5.5 s, then 4-6 s; three warm-ups put the
# timed builds past the steepest part (five did not make runs agree more
# closely: four such runs read 3.8-4.8 s). The catalog's one pass per run
# is its first, as in any fresh process that runs the catalog: a warm-up
# pass (14-18 s more) would not fit the benchmark's time allowance.
WARMUPS = {"build": 3, "catalog": 0}
HEAP = "3g"
# a run must end within 180 s, or 900 s when it also builds
RUN_BUDGET_S, BUILD_RUN_BUDGET_S = 175, 890

PRIMARY = {"build": "build_s", "catalog": "catalog_pass_s"}

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s")]


def per_layer():
    """Every per-layer metric as (name, unit), in report order."""
    m = []
    for stage, keys in [("extract.extract_dedup", ["wall_s", "cpu_s", "jobs", "shuffle_mb"]),
                        ("link.link_cc", ["wall_s", "cpu_s", "jobs"]),
                        ("graphout.merge_build", ["wall_s", "cpu_s", "jobs", "shuffle_mb", "spill_mb"]),
                        ("pipeline.triple_set", ["wall_s", "cpu_s", "jobs"])]:
        m += [(f"{stage}.{k}", unit(k)) for k in keys]
    m += [("extract.mentions_per_canonical", "ratio"), ("link.cc_iterations", "count"),
          ("link.block_cap_drops", "count"), ("graphout.edges_per_raw_triple", "ratio"),
          ("runtime.gc_s", "s")]
    for st in ["00_corpus", "01_segments", "02_extracted", "04_canonical_mentions",
               "05_nodes", "07_edges", "07_edges_bydst", "08_triple_set"]:
        m += [(f"runtime.ckpt.{st}.wall_s", "s"), (f"runtime.ckpt.{st}.mb", "MB")]
    m += [(f"runtime.ckpt.{k}", unit(k)) for k in ["cpu_s", "jobs", "shuffle_mb", "spill_mb"]]
    m += [("runtime.ckpt.build_s", "s"), ("runtime.ckpt.bytes_per_triple", "B"),
          ("runtime.resume.wall_s", "s"), ("runtime.resume.stages_reused", "count"),
          ("runtime.resume.stages_recomputed", "count"),
          ("runtime.resume.cpu_s", "s"), ("runtime.resume.jobs", "count")]
    for call in ["query.traverse", "query.find_path", "query.subgraph", "query.search",
                 "query.confidence_filter", "query.topk_degree", "query.cc", "query.pagerank",
                 "reason.infer_transitive", "graphout.verify", "graphout.stats"]:
        m += [(f"{call}.{k}", unit(k)) for k in ["wall_s", "jobs", "cpu_s"]]
    m += [("query.pagerank.jobs_per_iter", "count"), ("query.cc.iterations", "count"),
          ("query.bfs_depth_cutoffs", "count")]
    for mod in ["sql", "ops", "query", "reason", "graphout"]:
        m += [(f"catalog.{mod}.{k}", unit(k)) for k in ["wall_s", "jobs", "cpu_s"]]
    for q in ["q24_minhash_dedup", "q25_simhash_dedup", "q27_embed_neardup_lsh",
              "q28_ann_ivf", "q06_self_join_pairs"]:
        m += [(f"catalog.{q}.wall_s", "s"), (f"catalog.{q}.jobs", "count")]
    m += [("host.steal_permille", "permille"), ("host.load_avg", "load"),
          ("trace.overhead_s", "s"), ("fail_ratio", "ratio")]
    return m


def unit(key):
    return {"wall_s": "s", "cpu_s": "s", "jobs": "count", "shuffle_mb": "MB",
            "spill_mb": "MB"}[key]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classes_dir():
    return os.path.join(HERE, "target", "scala-2.13", "classes")


def build():
    """Compile when the sources changed; True if it compiled."""
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    want = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == want:
        return False
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine + benchmark (sbt compile)")
    t0 = time.time()
    r = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], HERE, env, 840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"build failed (exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.1f} s")
    return True


def run_child(cmd, cwd, env, timeout):
    """Run a child in its own process group; kill the whole group on timeout,
    or when this process is told to stop."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, err = p.communicate()
        err += f"\n[perfbench] killed after {timeout} s"
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


# ---------------------------------------------------------------- host

def cpu_ticks():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]  # total (user..steal), steal


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------- run

def jvm(args, work, timeout):
    add_opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                 "java.nio", "java.util", "java.util.concurrent",
                 "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                 "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars", "*")
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in add_opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes_dir()}{os.pathsep}{spark_jars}", "perfbench.Main"] + args
    env = dict(os.environ, GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    r = run_child(cmd, ROOT, env, timeout)
    with open(os.path.join(work, "jvm.log"), "w") as f:
        f.write(r.stderr)
    line = next((l for l in reversed(r.stdout.splitlines()) if l.startswith("PERFBENCH ")), None)
    if r.returncode != 0 or line is None:
        sys.stderr.write(r.stderr[-6000:])
        raise SystemExit(f"benchmark JVM failed (exit {r.returncode})")
    return json.loads(line[len("PERFBENCH "):])


def end_to_end(workload, res):
    """The end-to-end metrics the run has samples for. A run whose
    operations threw or failed their checks may lack some; it is reported
    as not correct with what it has.
    """
    s = res.get("samples", {})
    e2e = {}
    if "session_s" in res and res.get("setup_reps_s"):
        e2e["setup_s"] = res["session_s"] + stats.median(res["setup_reps_s"])
    if s.get(PRIMARY[workload]):
        e2e["op_p50_s"] = stats.median(s[PRIMARY[workload]])
    return e2e


def detail(workload, res, setup_s, failed, attempted):
    """The workload's figures under the names the README uses."""
    s = res.get("samples", {})
    d = {"fail_ratio": (stats.fail_ratio(attempted, failed), "ratio"),
         "peak_rss_mb": (res["peak_rss_mb"], "MB")}
    if setup_s is not None:
        d["setup_s"] = (setup_s, "s")
    if res.get("cycles"):
        d["cpu_s_per_op"] = (res["loop_cpu_s"] / res["cycles"], "s")
    if workload == "build" and s.get("build_s"):
        d["build_s"] = (stats.median(s["build_s"]), "s")
        d["triples_per_s"] = (stats.median(s["triples"]) / d["build_s"][0], "1/s")
    if workload == "catalog" and s.get("catalog_pass_s"):
        d["catalog_pass_s"] = (stats.median(s["catalog_pass_s"]), "s")
        d["entry_p50_s"] = (stats.median(s["entry_s"]), "s")
        t = stats.tail(s["entry_s"])
        if t:
            d[f"entry_tail_s.p{t[0]}"] = (t[1], "s")
            d["entry_tail_s.samples"] = (t[2], "count")
    for k, v in s.items():
        q1, q2, q3 = stats.quartiles(v)
        d[f"samples.{k}"] = ({"n": len(v), "q1": q1, "median": q2, "q3": q3}, "")
    return {k: {"value": v, "unit": u} for k, (v, u) in d.items()}


def report(workload, seed, trace, res, attempted, failed, host):
    """(detail line, result line) of one run. The result holds the
    end-to-end metrics untraced, the per-layer metrics traced; a run with a
    failed operation is not correct and reports the metrics it has.
    """
    e2e = end_to_end(workload, res)
    if trace:
        layer = dict(res.get("layer", {}))
        layer["host.steal_permille"] = host["steal_permille"]
        layer["host.load_avg"] = host["load_avg"]
        layer["fail_ratio"] = stats.fail_ratio(attempted, failed)
        # a layer the workload does not call did no work in this run
        metrics = {n: {"value": layer.get(n, 0.0), "unit": u} for n, u in per_layer()}
        info = {"workload": workload, "seed": seed, "trace": 1, "host": host,
                "run_id": res.get("run_id"), "traced_end_to_end": e2e}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END if n in e2e}
        info = {"workload": workload, "seed": seed, "trace": 0, "host": host,
                "cycles": res.get("cycles"), "measured_s": res.get("measured_s"),
                "setup_parts_s": {"session": res.get("session_s"),
                                  "repeated": res.get("setup_reps_s")},
                "metrics": detail(workload, res, e2e.get("setup_s"), failed, attempted)}
    return info, {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no graft sources next to perfbench/: run from a graft checkout")
    deadline = t_start + (BUILD_RUN_BUDGET_S if build() else RUN_BUDGET_S)

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        info, result = measure(a, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))


def measure(a, work, deadline):
    """Runs the workload's JVM and the oracle check; (detail line, result line)."""
    tot0, steal0 = cpu_ticks()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--setup-reps", str(SETUP_REPS),
            "--warmups", str(WARMUPS[a.workload])]
    args += ["--build-files", str(BUILD_FILES)]
    if a.workload == "catalog":
        args += ["--catalog-dir", CATALOG_DIR]
    t_jvm = time.time()
    res = jvm(args, work, max(10, deadline - 5 - time.time()))
    log(f"jvm {time.time() - t_jvm:.1f} s; samples {res.get('samples')}")
    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])
    out_dir = os.path.join(work, "catalog_out")
    if os.path.isdir(out_dir):
        t_oracle = time.time()
        import oracle
        checked = oracle.check(CATALOG_DIR, out_dir)
        for name, _, err in checked:
            attempted += 1
            if err:
                failed += 1
                failures.append(f"oracle {name}: {err}")
        log(f"oracle {time.time() - t_oracle:.1f} s: {sum(c[1] for c in checked)} entries "
            f"against their oracle, {sum(not c[1] for c in checked)} rows only")
    tot1, steal1 = cpu_ticks()
    host = {"steal_permille": 1000 * (steal1 - steal0) / max(1, tot1 - tot0),
            "load_avg": os.getloadavg()[0], "nproc": nproc()}
    for f in failures:
        log(f"FAILED {f}")

    info, result = report(a.workload, a.seed, a.trace, res, attempted, failed, host)
    spans = res.get("spans_file")
    if spans and os.path.exists(spans):
        info["spans_file"] = os.path.join(ROOT, ".bench_work", os.path.basename(spans))
        shutil.move(spans, info["spans_file"])
    return info, result


if __name__ == "__main__":
    main()
