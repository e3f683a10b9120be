#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark harness from source with sbt (perfbench/build.sbt) into
.bench_build/; later runs reuse the build while the sources are unchanged.
Each run then:

  1. writes the workload's tables for --seed (gen_data.py);
  2. starts one JVM (Harness.scala) and times it from launch until the
     session is up (setup_s);
  3. runs the workload's frozen query list in that JVM as a closed loop with
     one client: a cold pass, then warm passes in seed-shuffled order for
     --seconds and at least 92 warm latencies;
  4. checks each query's result against its DuckDB oracle from
     SparkEntry.oracleSql with the strict comparison of
     tools/local_verify.py, outside every timed interval, and checks that
     every later execution returned the same result;
  5. prints a description of the run, a report with every metric, and as the
     last line the result JSON. --trace 0 reports the end-to-end metrics and
     --trace 1 the per-layer ones (traced and untraced warm passes
     alternate, and the report states the tracing overhead per end-to-end
     metric).

HELD_OUT_SEED is kept out of tuning; re-check a claim on it.
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
BUILD = ROOT / ".bench_build"
LIBRARY_SRC = ROOT / "src" / "main" / "scala"
HELD_OUT_SEED = 1729
XMX = "3g"
DEADLINE_S = 170

sys.path.insert(0, str(HERE))
from workloads import WORKLOADS  # noqa: E402

# what spark-submit passes on JDK 17 (the library build's javaOptions)
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]



def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(LIBRARY_SRC.rglob("*.scala")) + sorted(HERE.rglob("*.scala")) + \
        [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(digest):
    """Compile library + harness once per source digest; returns the classpath."""
    cp_file, stamp = BUILD / "classpath.txt", BUILD / "sources.sha256"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # scratch files, server socket and JVM perf data stay out of /tmp; only
    # the toolchain's own caches (sbt boot, coursier) live outside the checkout
    (BUILD / "tmp").mkdir(exist_ok=True)
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    opts = [f"-Djava.io.tmpdir={BUILD / 'tmp'}", "-Dsbt.server.autostart=false"]
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        opts.append("-Dsbt.offline=true")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = str(Path(shutil.which("spark-submit")).resolve().parents[1])
    log("building library and harness with sbt")
    with open(BUILD / "build.log", "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=env,
                           stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           stderr=out, text=True, timeout=850)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not lines:
        sys.exit(f"[perfbench] build failed, see {BUILD / 'build.log'}")
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1]


def make_data(sf, seed):
    # the leaf is named like the shared corpus dirs (sf0.01): io16 derives a
    # table name from it and rejects names with other characters
    data = BUILD / "data" / f"seed{seed}" / f"sf{sf}"
    if not (data / "_done").exists():
        import gen_data
        for old in (BUILD / "data").glob(f"seed*/sf{sf}"):
            shutil.rmtree(old)
        tmp = data.with_name(data.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        for name, table in gen_data.tables(sf, seed):
            tmp.mkdir(parents=True, exist_ok=True)
            gen_data.write(table, tmp / f"{name}.parquet")
        (tmp / "_done").write_text("")
        tmp.rename(data)
    return data


def jvm(classpath, out, deadline, extra):
    """Runs Harness in a fresh JVM with its scratch space inside .bench_build."""
    work = BUILD / "work"
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    java = shutil.which("java") or str(Path(os.environ["JAVA_HOME"]) / "bin" / "java")
    cmd = [java, f"-Xmx{XMX}", "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", classpath, "perfbench.Harness", "--out", str(out),
           "--cores", str(nproc()), *extra, "--spawn-ns", str(time.time_ns())]
    with open(BUILD / "run.log", "w") as logf:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                               stdout=logf, stderr=subprocess.STDOUT,
                               timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:  # run() has killed and reaped the JVM
            sys.exit(f"[perfbench] JVM passed the deadline, see {BUILD / 'run.log'}")
    result = out / "run.json"
    if r.returncode != 0 or not result.exists():
        sys.exit(f"[perfbench] JVM exited {r.returncode}, see {BUILD / 'run.log'}")
    return json.loads(result.read_text())


def nproc():
    return len(os.sched_getaffinity(0))


def oracle_check(out, data):
    """Strict DuckDB comparison of each query's first result; {name: why}."""
    import duckdb
    import pyarrow.dataset as pads
    sys.path.insert(0, str(ROOT / "tools"))
    from local_verify import check
    con = duckdb.connect()
    for t in data.glob("*.parquet"):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    bad = {}
    for name, sql in json.loads((out / "oracle.json").read_text()).items():
        res = out / "results" / name
        if not res.exists():
            bad[name] = "no result"
            continue
        try:
            ok, why = check(name, pads.dataset(res, format="parquet").to_table(),
                            con.execute(sql).arrow())
        except Exception as e:  # an oracle that cannot run is a failed check
            ok, why = False, f"oracle error: {e}"
        if not ok:
            bad[name] = why
    return bad


def quantile(xs, q):
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def e2e(setup_s, cold, warm, wall_s, ok_rate, rss):
    ms = [e["ms"] for e in warm]
    return {"setup_s": setup_s,
            "cold_query_p50_ms": statistics.median(e["ms"] for e in cold),
            "query_p50_ms": statistics.median(ms),
            "query_p90_ms": quantile(ms, 90),
            "queries_per_s": len(ms) / wall_s,
            "ok_rate": ok_rate,
            "peak_rss_mb": rss}


def source_id():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "no git; sources sha256 " + sources_digest()[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.monotonic()
    deadline = time.monotonic() + DEADLINE_S
    if not (LIBRARY_SRC / "graft" / "SparkEntry.scala").exists():
        sys.exit(f"[perfbench] no library sources at {LIBRARY_SRC}; "
                 "run from the root of a full checkout")
    wl = WORKLOADS[a.workload]
    classpath = build(sources_digest())
    deadline = max(deadline, time.monotonic() + 150)  # a first build gets its own budget
    data = make_data(wl["sf"], a.seed)

    t_data = time.monotonic()
    out = BUILD / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run = jvm(classpath, out, deadline,
              ["--sf-dir", str(data), "--queries", ",".join(wl["queries"]),
               "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)])
    t_jvm = time.monotonic()

    execs = run["executions"]
    wrong_oracle = oracle_check(out, data)
    t_oracle = time.monotonic()
    bad = [e for e in execs if e["error"] or not e["same_as_first"]
           or e["name"] in wrong_oracle]
    failures = sorted({e["name"] for e in bad})
    cold = [e for e in execs if e["pass"] == 0]
    warm = [e for e in execs if e["pass"] > 0]
    ok_rate = 1 - len(bad) / len(execs)
    p90 = quantile([e["ms"] for e in warm], 90)
    beyond = sum(e["ms"] > p90 for e in warm)
    if beyond < 10:
        sys.exit(f"[perfbench] only {beyond} warm samples beyond p90; need 10")

    metrics = e2e(run["setup_s"], cold, warm, run["warm_wall_s"], ok_rate,
                  run["peak_rss_mb"])
    desc = {"workload": a.workload, "seed": a.seed, "held_out_seed": HELD_OUT_SEED,
            "master": f"local[{nproc()}]", "nproc": os.cpu_count(),
            "sf_dir": str(data.relative_to(ROOT)), "xmx": XMX,
            "max_heap_mb": round(run["max_heap_mb"]), "source": source_id(),
            "load_avg_start": run["load_avg_start"], "load_avg_end": run["load_avg_end"],
            "exec.failed_tasks": run["failed_tasks"], "queries": len(wl["queries"]),
            "warm_passes": run["warm_passes"], "warm_samples": len(warm),
            "samples_beyond_p90": beyond,
            "wall_s": {"build_and_data": t_data - t0, "jvm": t_jvm - t_data,
                       "oracle_check": t_oracle - t_jvm}}
    report = {"run": desc, "error_rate": 1 - ok_rate, "failed_queries": failures,
              "oracle_mismatch": wrong_oracle, "end_to_end": metrics}
    if a.trace:
        traced = [e for e in warm if e["traced"]]
        plain = [e for e in warm if not e["traced"]]
        t_m, p_m = (e2e(metrics["setup_s"], cold, xs, sum(e["ms"] for e in xs) / 1000,
                        ok_rate, run["peak_rss_mb"]) for xs in (traced, plain))
        report["trace_overhead"] = {
            k: {"traced": t_m[k], "untraced": p_m[k],
                "delta_pct": 100 * (t_m[k] - p_m[k]) / p_m[k] if p_m[k] else 0.0}
            for k in ("query_p50_ms", "query_p90_ms", "queries_per_s")}
        report["trace_overhead"]["note"] = (
            "warm metrics compare traced and untraced passes of this run; set-up, cold "
            "pass and peak RSS are untraced here, compare them across --trace runs")
        report["spans"] = str((out / "spans.jsonl").relative_to(ROOT))
        report["per_layer"] = run["layers"]
        units = {m["name"]: m["unit"] for m in bench_spec()["per_layer"]}
        values = run["layers"]
    else:
        units = {m["name"]: m["unit"] for m in bench_spec()["end_to_end"]}
        values = metrics
    (BUILD / "reports").mkdir(exist_ok=True)
    (BUILD / "reports" / f"{out.name}.json").write_text(json.dumps(report, indent=1))
    print("run " + json.dumps(desc))
    print("report " + json.dumps({k: v for k, v in report.items() if k != "run"}))
    if failures:
        log(f"wrong or failed queries: {', '.join(failures)}")
    print(json.dumps({"correct": not bad, "attempted": len(execs), "failed": len(bad),
                      "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}))


def bench_spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


if __name__ == "__main__":
    main()
