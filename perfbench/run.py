"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 20 --trace 0

Builds graft plus the harness from the checkout's sources (perfbench/build.py),
generates the seeded inputs (perfbench/gen.py; cached per seed), computes
the DuckDB oracle digests for olap_mix (perfbench/oracle.py; cached per
seed), then runs the harness JVM for the workload's closed loop and prints:

* a detail line -- every workload metric by name with unit and sample
  count, the run's provenance and the input manifest;
* as the last line, the result: ``correct``, ``attempted``, ``failed`` and
  ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
  ones, see BENCHMARK.json).

Everything is written under ``.bench_build/perfbench`` in the checkout. See
perfbench/README.md for the workloads and the metrics.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("olap_mix", "lake_mutate", "index_ingest")
READ_KINDS = ("query", "read", "probe")
END_TO_END = ("setup_s", "wall_s")
JVM_DEADLINE_S = 165
KEEP_SEEDS = 3

# The repo's JVM envelope (build.sbt javaOptions).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def jvm_options(tmp):
    os.makedirs(tmp, exist_ok=True)
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    opts += ["-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}", "-XX:MaxNewSize=4g"]
    opts += os.environ.get("SPARK_GRAFT_GC_OPTS", "").split()
    opts += [f"-Djava.io.tmpdir={tmp}"]
    return opts


def percentile(xs, p):
    """Linear-interpolated percentile (p in [0, 100])."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    """Highest percentile with at least 10 samples beyond it: (value, p)."""
    n = len(xs)
    if n < 11:
        return max(xs) if xs else 0.0, 100.0
    p = 100.0 * (n - 10) / n
    return percentile(xs, p), round(p, 2)


def prune(root, keep):
    dirs = sorted(glob.glob(os.path.join(root, "seed-*")), key=os.path.getmtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None  # a source export: the build stamp identifies the sources
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                              text=True, check=True, timeout=10).stdout.strip()
    except Exception:  # noqa: BLE001 - git missing or unusable
        return None


def olap_oracle(jars_cp, data, bench, stamp):
    """Candidate list (from the harness) and per-seed oracle digests."""
    listing = os.path.join(bench, f"olap_list-{stamp}.json")
    if not os.path.exists(listing):
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", jars_cp, "graft.perfbench.Harness",
                        "--list-olap", listing + ".tmp"], check=True,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=120)
        os.replace(listing + ".tmp", listing)
    with open(listing) as f:
        spec = json.load(f)
    out = os.path.join(data, f"oracle-{stamp}.json")
    if not os.path.exists(out):
        failed = oracle.compute(spec["queries"], spec["per_module"],
                                os.path.join(data, "sf0.1"), out)
        if failed:
            print(f"perfbench: oracle SQL failed for {failed}", file=sys.stderr)
    return out


def metric(value, unit, n=None, **extra):
    d = {"value": value, "unit": unit}
    if n is not None:
        d["n"] = n
    d.update(extra)
    return d


def summarize(res, manifest):
    ops = res["ops"]
    work = [o for o in ops if o["kind"] != "release"]
    secs = lambda kinds: [o["s"] for o in work if o["kind"] in kinds]
    reads = secs(READ_KINDS)
    busy = sum(o["s"] for o in work)
    detail = {
        "setup_s": metric(res["setup"]["setup_s"], "s"),
        "wall_s": metric(res["wall_s"], "s"),
        "failed_frac": metric(sum(not o["ok"] for o in work) / max(len(work), 1), "ratio",
                              attempted=len(work), failed=sum(not o["ok"] for o in work)),
        "peak_rss_mb": metric(res["peak_rss_mb"], "MB"),
        "read_mean_s": metric(statistics.mean(reads) if reads else 0.0, "s", len(reads)),
        "ops_per_s": metric(len(work) / busy if busy else 0.0, "1/s", len(work)),
    }
    w = res["workload"]
    facts = res["facts"]
    inputs = manifest["inputs"]

    def lat(name, xs):
        detail[name + "_p50_s"] = metric(statistics.median(xs) if xs else 0.0, "s", len(xs))
        v, p = tail(xs)
        detail[name + "_tail_s"] = metric(v, "s", len(xs), percentile=p)

    if w == "olap_mix":
        lat("query", secs(("query",)))
    elif w == "lake_mutate":
        etl = secs(("etl",))
        detail["etl_rows_per_s"] = metric(inputs["log_events"] / etl[0] if etl else 0.0,
                                          "rows/s", len(etl))
        lat("commit", secs(("commit",)))
        lat("read", secs(("read",)))
        detail["space_amp"] = metric(facts.get("space_amp", 0.0), "ratio")
    else:
        ing = [o for o in work if o["kind"] == "ingest"]
        lat("ingest", [o["s"] for o in ing])
        rows = sum(o["rows_in"] for o in ing)
        detail["ingest_rows_per_s"] = metric(
            rows / sum(o["s"] for o in ing) if ing else 0.0, "rows/s", len(ing))
        lat("probe", secs(("probe",)))
    return detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # recorded only: a run's timed work is fixed (the prologue and one round)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    root = build.checkout_root()
    bench = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(bench, exist_ok=True)
    t_start = time.time()
    jar, stamp = build.build(root, bench, jvm_options(os.path.join(bench, "tmp")))
    jars_cp = jar + os.pathsep + os.path.join(build.spark_jars(root), "*")

    t_gen = time.time()
    data_root = os.path.join(bench, "data")
    tables, data = gen.generate(data_root, a.seed, a.workload)
    os.utime(data)
    prune(data_root, KEEP_SEEDS)
    oracle_path = olap_oracle(jars_cp, tables, bench, stamp) if a.workload == "olap_mix" else None
    gen_s = time.time() - t_gen

    work = os.path.join(bench, "run")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    cds = [f"-XX:SharedArchiveFile={jar}.jsa"] if os.path.exists(jar + ".jsa") else []
    cmd = ["java", *jvm_options(tmp), *cds, "-cp", jars_cp, "graft.perfbench.Harness",
           "--workload", a.workload, "--tables", tables, "--data", data, "--work", work,
           "--out", out, "--trace", str(a.trace), "--seed", str(a.seed)]
    if oracle_path:
        cmd += ["--oracle", oracle_path]
    with open(os.path.join(bench, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: harness exceeded its deadline")
    print(f"perfbench: inputs {gen_s:.1f} s, harness {time.time() - t_start - gen_s:.1f} s",
          file=sys.stderr)
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: harness failed (rc={rc}); see {log.name}")
    with open(out) as f:
        res = json.load(f)
    with open(os.path.join(data, "manifest.json")) as f:
        manifest = json.load(f)

    detail = summarize(res, manifest)
    work_ops = [o for o in res["ops"] if o["kind"] != "release"]
    failed = sum(not o["ok"] for o in work_ops)
    prov = dict(res["provenance"], commit=git_commit(root), build=stamp, seed=a.seed,
                seconds=a.seconds, trace=a.trace, input_s=round(gen_s, 3),
                setup=res["setup"], sentinels=res["sentinels"], gc=res["gc"])
    print(json.dumps({"workload": a.workload, "detail": detail, "facts": res["facts"],
                      "errors": sorted({o["err"] for o in work_ops if not o["ok"]})[:10],
                      "provenance": prov, "inputs": manifest}))
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(res["layers"].items())}
    else:
        metrics = {k: {"value": detail[k]["value"], "unit": detail[k]["unit"]}
                   for k in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": len(work_ops),
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("rows_per_s"):
        return "rows/s"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith(("_frac", "_ratio", "_amp")) or leaf == "deletedFraction":
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
