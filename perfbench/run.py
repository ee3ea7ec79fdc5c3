#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds into `.bench_build/`
(compiles `src/main/scala` and `perfbench/harness` with the Scala compiler
that ships in Spark's jars, generates the inputs, and records a class-data
archive so each JVM starts faster); later runs reuse the build while the
sources are unchanged. One run is one JVM (`perfbench.Harness`) at
`local[<cores>]` with one client. The batch outputs are then checked
against the DuckDB oracle with `tools/check_oracle.py`, and the last line
of stdout is the result JSON. See perfbench/README.md for the workloads
and metric definitions.
"""
import argparse
import collections
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
SF = 0.01
HEAP = "2g"
SETUPS = 5
JVM_LIMIT_S = 150

# Curation operators that fit a run: connected components, LinkRank, BM25,
# curriculum, pack and dedup.
CURATION = (
    "q_near_dup_components q_link_rank q_bm25_topk q_curriculum "
    "q_training_shards q_dedup_incremental_bloom").split()
WORKLOADS = {"stream_replay": [], "curation_batch": CURATION}

# The median is printed, not gated: over one curation pass it is the mean of
# two heterogeneous calls, whose spread between seeds exceeded any bound.
END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "latency_p90_ms": "ms",
              "latency_mean_ms": "ms", "latency_geomean_ms": "ms"}


def per_layer_units():
    u = {"producer.drop_ms": "ms", "producer.files_written": "count",
         "producer.bytes_written": "bytes"}
    for k in ("latest_offset", "get_batch", "query_planning", "add_batch",
              "wal_commit", "commit_offsets", "trigger", "phase_gap",
              "first_day"):
        u[f"stream.{k}_ms"] = "ms"
    u.update({"stream.ingest_rows_per_s": "1/s",
              "stream.rows_read_per_row_dropped": "ratio",
              "stream.batches_per_drop": "ratio",
              "state.rows_total": "count", "state.rows_updated": "count",
              "state.memory_bytes": "bytes", "state.commit_ms": "ms",
              "state.partitions": "count", "engine.top10_ms": "ms"})
    for q in CURATION:
        u[f"{q}.build_s"] = "s"
        u[f"{q}.exec_s"] = "s"
    u.update({"call.restart_s": "s", "planning_ms": "ms",
              "listing.files_discovered": "count",
              "listing.parallel_jobs": "count"})
    for k in ("jobs", "stages", "tasks", "task_failures"):
        u[f"spark.{k}"] = "count"
    for k in ("executor_run_s", "executor_cpu_s", "gc_s", "deser_s",
              "driver_gap_s"):
        u[f"spark.{k}"] = "s"
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "input_bytes", "output_bytes"):
        u[f"spark.{k}"] = "bytes"
    u["spark.empty_task_share"] = "ratio"
    u["traced.latency_p50_ms"] = "ms"
    u["traced.latency_mean_ms"] = "ms"
    return u


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- toolchain and build ---------------------------------------------------

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', read("build.sbt"))
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME or build.sbt unmanagedBase")


def add_opens():
    """build.sbt's JDK 17 --add-opens list, as sbt passes it to forked runs."""
    pkgs = re.findall(r'"(java\.base/[\w./]+)"', read("build.sbt"))
    if not pkgs:
        fail("build.sbt has no --add-opens list")
    return [a for p in pkgs for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def read(path):
    with open(path) as f:
        return f.read()


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def java_cmd(build, jars, opens, *args, archive="use"):
    jsa = os.path.join(build, "classes.jsa")
    cds = []
    if archive == "dump":
        cds = [f"-XX:ArchiveClassesAtExit={jsa}"]
    elif os.path.exists(jsa):
        cds = [f"-XX:SharedArchiveFile={jsa}"]
    # C1 only: a run lasts under a minute, and on a few cores C2 compiler
    # threads compete with Spark's task threads for the whole of it, which
    # made timings both slower and less repeatable than C1 code. The heap
    # has one fixed size, touched in full at start: when G1 could grow it,
    # it did so at run-dependent moments, and peak RSS spread by half.
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:TieredStopAtLevel=1",
            *opens, *cds,
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{os.path.join(build, 'bench.jar')}:{jars}/*",
            "perfbench.Harness", *args]


def jvm_env(tmp):
    os.makedirs(tmp, exist_ok=True)
    return dict(os.environ, SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp)


def data_dir(build, sf):
    """Generated inputs at scale `sf`, regenerated when the generator changes."""
    d = os.path.join(build, "data", f"sf{sf}")
    stamp = digest([os.path.join(HERE, "datagen.py")], str(sf))
    if not os.path.exists(os.path.join(d, ".stamp")) or read(os.path.join(d, ".stamp")) != stamp:
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), d, str(sf)],
                       check=True)
        with open(os.path.join(d, ".stamp"), "w") as f:
            f.write(stamp)
    return d


def ensure_build(build, jars, opens, cores):
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)) + \
        sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    stamp = digest(srcs + [os.path.join(HERE, "log4j2.properties")],
                   " ".join(sorted(os.listdir(jars))) + " ".join(opens))
    stamp_file = os.path.join(build, "build.stamp")
    if os.path.exists(stamp_file) and read(stamp_file) == stamp:
        return
    t0 = time.time()
    classes = os.path.join(build, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    for f in ("bench.jar", "classes.jsa", "build.stamp"):
        if os.path.exists(os.path.join(build, f)):
            os.remove(os.path.join(build, f))
    os.makedirs(classes)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
                    "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                    "-classpath", f"{jars}/*", *srcs], check=True)
    # the class-data archive takes jars only, not class directories
    with zipfile.ZipFile(os.path.join(build, "bench.jar"), "w") as z:
        for root, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(root, f)
                z.write(p, os.path.relpath(p, classes))
    data = data_dir(build, SF)
    prime = os.path.join(build, "prime")
    subprocess.run(java_cmd(build, jars, opens, "--workload", "prime",
                            "--seed", "0", "--seconds", "0", "--data", data,
                            "--out", prime, "--cores", str(cores),
                            archive="dump"),
                   env=jvm_env(os.path.join(prime, "tmp")), check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                   timeout=600)
    shutil.rmtree(prime, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


# ---- metrics ---------------------------------------------------------------

def pct(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_metrics(lat):
    if not lat:
        return {"latency_p50_ms": 0.0, "latency_p90_ms": 0.0,
                "latency_mean_ms": 0.0, "latency_geomean_ms": 0.0}
    return {"latency_p50_ms": pct(lat, 0.5), "latency_p90_ms": pct(lat, 0.9),
            "latency_mean_ms": statistics.fmean(lat),
            "latency_geomean_ms": math.exp(statistics.fmean(math.log(x) for x in lat))}


def layer_metrics(workload, res, lat):
    m = {k: 0.0 for k in per_layer_units()}
    ops = res["ops"]
    n = max(1, len(ops))
    layers = res["layers"]
    cnt = collections.defaultdict(float, layers.get("counters", {}))
    batches = layers.get("batches", [])
    if batches:
        mean = lambda k: statistics.fmean(b.get(k, 0.0) for b in batches)
        phases = {"latest_offset": "d.latestOffset", "get_batch": "d.getBatch",
                  "query_planning": "d.queryPlanning", "add_batch": "d.addBatch",
                  "wal_commit": "d.walCommit", "commit_offsets": "d.commitOffsets"}
        for k, v in phases.items():
            m[f"stream.{k}_ms"] = mean(v)
        m["stream.trigger_ms"] = mean("d.triggerExecution")
        m["stream.phase_gap_ms"] = m["stream.trigger_ms"] - sum(
            m[f"stream.{k}_ms"] for k in phases)
        for k in ("rows_total", "rows_updated", "memory_bytes", "commit_ms"):
            m[f"state.{k}"] = mean(f"state_{k}")
        m["state.partitions"] = max(b.get("state_partitions", 0.0) for b in batches)
    if workload == "stream_replay":
        reps = res["replays"]
        drops = sum(r["drops"] for r in reps)
        dropped = sum(r["rows_dropped"] for r in reps)
        m["producer.drop_ms"] = statistics.fmean(o["drop_ms"] for o in ops)
        m["producer.files_written"] = sum(r["files_written"] for r in reps) / drops
        m["producer.bytes_written"] = sum(r["bytes_written"] for r in reps) / drops
        m["stream.first_day_ms"] = statistics.median(
            o["latency_ms"] for o in ops if o["first"])
        m["stream.ingest_rows_per_s"] = dropped / (sum(o["latency_ms"] for o in ops) / 1e3)
        m["stream.rows_read_per_row_dropped"] = sum(r["rows_read"] for r in reps) / dropped
        m["stream.batches_per_drop"] = sum(r["batches"] for r in reps) / drops
        m["engine.top10_ms"] = statistics.fmean(o["top10_ms"] for o in ops)
    else:
        by = collections.defaultdict(list)
        for o in ops:
            by[o["name"]].append(o)
        for q, os_ in by.items():
            m[f"{q}.build_s"] = statistics.median(o["build_s"] for o in os_)
            m[f"{q}.exec_s"] = statistics.median(o["exec_s"] for o in os_)
        m["call.restart_s"] = statistics.fmean(o["restart_s"] for o in ops)
    m["planning_ms"] = cnt["planning_ms"] / n
    m["listing.files_discovered"] = cnt["files_discovered"] / n
    m["listing.parallel_jobs"] = cnt["parallel_listings"] / n
    for k in ("jobs", "stages", "tasks", "task_failures", "executor_run_s",
              "executor_cpu_s", "gc_s", "deser_s", "driver_gap_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "input_bytes", "output_bytes"):
        m[f"spark.{k}"] = cnt[k] / n
    m["spark.empty_task_share"] = cnt["empty_tasks"] / cnt["tasks"] if cnt["tasks"] else 0.0
    lm = latency_metrics(lat)
    m["traced.latency_p50_ms"] = lm["latency_p50_ms"]
    m["traced.latency_mean_ms"] = lm["latency_mean_ms"]
    return m


# ---- correctness -----------------------------------------------------------

def oracle_verdicts(out, data, plant):
    """PASS/FAIL per (pass, query) from tools/check_oracle.py."""
    verdicts = {}
    for k, pdir in enumerate(sorted(glob.glob(os.path.join(out, "pass*")),
                                    key=lambda p: int(p.rsplit("pass", 1)[1]))):
        if plant == "wrong_expected" and k == 0:
            path = os.path.join(pdir, "oracle_sql.json")
            sql = json.loads(read(path))
            name = sorted(sql)[0]
            sql[name] = f"SELECT * FROM ({sql[name]}) AS planted OFFSET 1"
            with open(path, "w") as f:
                json.dump(sql, f)
        p = subprocess.run([sys.executable, "tools/check_oracle.py", pdir, data],
                           capture_output=True, text=True, timeout=120)
        for line in p.stdout.splitlines():
            mm = re.match(r"(PASS|FAIL) (\S+?):", line)
            if mm:
                verdicts[(int(pdir.rsplit("pass", 1)[1]), mm.group(2))] = mm.group(1)
    return verdicts


def cpu_ticks():
    """Aggregate CPU ticks from /proc/stat: (total, steal)."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return sum(t), t[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    # self-test only: input scale, and planted faults the checks must catch
    ap.add_argument("--sf", type=float, default=SF)
    ap.add_argument("--plant", default="none",
                    choices=("none", "wrong_expected", "dup_app_id"))
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", "tools/check_oracle.py"):
        if not os.path.exists(need):
            fail(f"run from the repository root: {need} is missing")
    build = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    cores = len(os.sched_getaffinity(0))
    jars = spark_jars()
    opens = add_opens()
    ensure_build(build, jars, opens, cores)
    data = data_dir(build, a.sf)

    out = os.path.join(build, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    log = os.path.join(out, "jvm.log")
    cmd = java_cmd(build, jars, opens, "--workload", a.workload,
                   "--seed", str(a.seed), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--data", data, "--out", out,
                   "--cores", str(cores), "--setups", str(SETUPS),
                   "--plant", a.plant, "--queries", ",".join(WORKLOADS[a.workload]))
    ticks0 = cpu_ticks()
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, env=jvm_env(os.path.join(out, "tmp")),
                               stdout=lf, stderr=subprocess.STDOUT,
                               timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {JVM_LIMIT_S} s; log in {log}", 1)
    if p.returncode != 0 or not os.path.exists(os.path.join(out, "result.json")):
        sys.stderr.write(read(log)[-4000:])
        fail(f"harness exited with {p.returncode}; log in {log}", 1)
    res = json.loads(read(os.path.join(out, "result.json")))
    ticks1 = cpu_ticks()
    # share of CPU time the hypervisor gave to other guests during the run:
    # wall-clock metrics from a run with a high share read slow
    steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])

    # honest-cost guard: every timed unit ran in its own application
    shared = [i for i, c in collections.Counter(res["app_ids"]).items() if c > 1]
    if shared:
        fail(f"honest-cost guard: timed calls share application ids {shared}", 1)

    ops = res["ops"]
    if a.workload == "stream_replay":
        ok = [o["ok"] for o in ops]
        lat = [o["latency_ms"] for o, g in zip(ops, ok) if g and not o["first"]]
        for r in res["replays"]:
            for prob in r["problems"]:
                print(f"stream check failed: {prob}")
    else:
        verdicts = oracle_verdicts(out, data, a.plant)
        ok = []
        for o in ops:
            v = verdicts.get((o["pass"], o["name"]), "FAIL")
            ok.append(o["ok"] and v == "PASS")
            if not ok[-1]:
                print(f"call failed: {o['name']} pass {o['pass']}: "
                      f"{o['error'] or 'oracle mismatch'}")
        lat = [o["wall_s"] * 1e3 for o, g in zip(ops, ok) if g]
    failed = sum(1 for g in ok if not g)

    if a.trace:
        metrics = layer_metrics(a.workload, res, lat)
        units = per_layer_units()
        trace_dir = os.path.join(build, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        trace = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
        shutil.copy(os.path.join(out, "trace.json"), trace)
        with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}-ops.json"), "w") as f:
            json.dump({"ops": ops, "replays": res["replays"],
                       "counters": res["layers"].get("counters", {})}, f)
        print(f"trace: {trace}")
    else:
        metrics = {"setup_s": statistics.median(res["setup_s"]),
                   "peak_rss_mb": res["peak_rss_mb"], **latency_metrics(lat)}
        units = END_TO_END
        print(f"latency_p50_ms {metrics['latency_p50_ms']:.3f}")

    print(f"workload {a.workload} seed {a.seed} cores {cores} sf {a.sf}: "
          f"{len(ops)} ops, {failed} failed (failed_share {failed / max(1, len(ops)):.3f}), "
          f"{len(lat)} latency samples, measured {res['measured_s']:.1f} s, "
          f"set-ups {[round(s, 3) for s in res['setup_s']]} s, host steal {steal:.3f}")
    for k, order in enumerate(res["orders"]):
        print(f"order {k}: {' '.join(order)}")
    if a.workload != "stream_replay" and lat:
        passes = collections.defaultdict(float)
        for o, g in zip(ops, ok):
            passes[o["pass"]] += o["wall_s"]
        print(f"pass_s {statistics.median(passes.values()):.3f} query_geomean_s "
              f"{latency_metrics(lat)['latency_geomean_ms'] / 1e3:.4f}")
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}))


if __name__ == "__main__":
    main()
