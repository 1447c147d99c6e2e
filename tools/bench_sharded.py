#!/usr/bin/env python3
"""Sharded bench ledger — the drift-isolation harness.

The single-JVM board (graft.Bench over all queries) accumulates
JVM/GC/code-cache pressure as the query count grows: round 11 showed
a UNIFORM ~1.2x within-round drift across 190 code-unchanged queries,
larger than the regressions the ledger exists to catch. This tool
runs the same Bench main in FRESH JVMs, one per shard of the query
board, so every query's wall is measured in a session whose heap and
JIT state do not depend on how many other queries ran before it.

Usage:
  python3 tools/bench_sharded.py out.json [--shards N] [--reps N]
          [--sf DIR] [--cpus N]
  python3 tools/bench_sharded.py --compare a.json b.json [--tol 0.05]
  python3 tools/bench_sharded.py --cross-round prior.json current.json

--cross-round emits the PERF.md round-close block verbatim (shared
totals, median/p90 per-query ratio, the "regressions >1.5x above
0.3s" table, and the new/removed query lists) so the cross-round
comparison is one command instead of hand assembly.

Launches java directly against target/scala-2.13/classes +
/opt/spark/jars (no sbt startup per shard); query names are parsed
from SparkEntry.scala. --compare prints per-query agreement between
two ledgers (the re-pin acceptance check: same commit, two runs,
agreement within tolerance on all but sub-second noise-floor
queries).
"""
import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLASSPATH = os.path.join(ROOT, "target/scala-2.13/classes") + ":/opt/spark/jars/*"

# the same JVM flags build.sbt's forked `run` uses — Spark 4 on JDK 17
# needs the module opens when SparkSession is created outside
# spark-submit (q44's MLlib Word2Vec path fails without them), and the
# heap flag keeps walls comparable with the sbt-launched board (session
# settings such as UTC come from graft.GraftSession)
JAVA_OPTS = sum((["--add-opens", p + "=ALL-UNNAMED"] for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]), []) + [
    "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g"),
]


def query_names():
    src = open(os.path.join(
        ROOT, "src/main/scala/graft/SparkEntry.scala")).read()
    names = re.findall(r'"(q\d+[a-z0-9_]*)"\s*->', src)
    if not names:
        sys.exit("no query names parsed from SparkEntry.scala")
    return names


def run_shard(names, sf, cpus, reps):
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_REPS=str(reps),
               SPARK_GRAFT_BENCH_ONLY=",".join(names))
    out = subprocess.run(
        ["java"] + JAVA_OPTS + ["-cp", CLASSPATH, "graft.Bench"],
        env=env, cwd=ROOT, capture_output=True, text=True)
    for line in out.stdout.splitlines():
        if line.startswith('{"metric"'):
            return json.loads(line)
    sys.exit(f"shard produced no bench line (rc={out.returncode}):\n"
             + out.stderr[-2000:])


def compare(a_path, b_path, tol):
    a = json.load(open(a_path))["queries"]
    b = json.load(open(b_path))["queries"]
    keys = sorted(set(a) & set(b))
    bad = []
    for q in keys:
        lo, hi = sorted((a[q], b[q]))
        # sub-noise-floor queries compare on absolute delta: a 0.08s
        # vs 0.11s "1.4x" is scheduler noise, not drift
        if hi - lo <= 0.15:
            continue
        if lo > 0 and hi / lo - 1 > tol:
            bad.append((q, a[q], b[q], hi / lo))
    print(f"{len(keys)} shared queries; {len(bad)} beyond {tol:.0%} "
          f"(>0.15s absolute)")
    for q, va, vb, r in sorted(bad, key=lambda x: -x[3]):
        print(f"  {q:40s} {va:7.2f} vs {vb:7.2f}  ({r:.2f}x)")
    return 1 if bad else 0


def cross_round(prior_path, cur_path):
    """Emit the PERF.md cross-round block: totals over shared queries,
    ratio quantiles, regressions >1.5x above the 0.3s noise floor,
    new/removed queries."""
    pa = json.load(open(prior_path))
    cu = json.load(open(cur_path))
    a, b = pa["queries"], cu["queries"]
    shared = sorted(set(a) & set(b))
    new = sorted(set(b) - set(a))
    gone = sorted(set(a) - set(b))
    ratios = sorted(b[q] / a[q] for q in shared if a[q] > 0)
    med = ratios[len(ratios) // 2] if ratios else float("nan")
    p90 = ratios[int(len(ratios) * 0.9)] if ratios else float("nan")
    reg = [(q, a[q], b[q], b[q] / a[q]) for q in shared
           if b[q] > 0.3 and a[q] > 0 and b[q] / a[q] > 1.5]
    ta = sum(a[q] for q in shared)
    tb = sum(b[q] for q in shared)
    print(f"Cross-round ledger: {os.path.basename(prior_path)} -> "
          f"{os.path.basename(cur_path)}")
    print(f"- {len(shared)} shared queries: {ta:.1f} s -> {tb:.1f} s "
          f"(median per-query ratio {med:.2f}, p90 {p90:.2f})")
    print(f"- regressions >1.5x above 0.3 s: {len(reg)}")
    for q, va, vb, r in sorted(reg, key=lambda x: -x[3]):
        print(f"  - {q}: {va:.2f} s -> {vb:.2f} s ({r:.2f}x)")
    if new:
        print(f"- new queries ({len(new)}): "
              + ", ".join(f"{q} {b[q]:.2f} s" for q in new))
    if gone:
        print(f"- removed queries ({len(gone)}): " + ", ".join(gone))
    return 0


def merge_min(out_path, paths):
    docs = [json.load(open(p)) for p in paths]
    keys = set(docs[0]["queries"])
    for d in docs[1:]:
        keys &= set(d["queries"])
    merged = {q: min(d["queries"][q] for d in docs) for q in sorted(keys)}
    failed = sorted({f for d in docs for f in d.get("failed", [])})
    doc = {"metric": "total", "value": round(sum(merged.values()), 3),
           "unit": "sec", "queries": merged, "failed": failed,
           "sf": docs[0].get("sf"), "shards": docs[0].get("shards"),
           "reps": docs[0].get("reps"), "merged_runs": len(docs)}
    with open(out_path, "w") as f:
        json.dump(doc, f)
    print(f"{out_path}: element-wise min of {len(docs)} runs, "
          f"{len(merged)} queries, total {doc['value']:.1f}s")


def main():
    if "--merge-min" in sys.argv:
        i = sys.argv.index("--merge-min")
        merge_min(sys.argv[i + 1], sys.argv[i + 2:])
        return
    if "--cross-round" in sys.argv:
        i = sys.argv.index("--cross-round")
        sys.exit(cross_round(sys.argv[i + 1], sys.argv[i + 2]))
    if "--compare" in sys.argv:
        i = sys.argv.index("--compare")
        tol = 0.05
        if "--tol" in sys.argv:
            tol = float(sys.argv[sys.argv.index("--tol") + 1])
        sys.exit(compare(sys.argv[i + 1], sys.argv[i + 2], tol))

    out_path = sys.argv[1]
    def opt(flag, default):
        return sys.argv[sys.argv.index(flag) + 1] if flag in sys.argv else default
    shards = int(opt("--shards", "8"))
    reps = int(opt("--reps", "5"))
    sf = opt("--sf", "/root/testdata/sf0.1")
    cpus = int(opt("--cpus", "32"))

    names = query_names()
    chunks = [names[i::shards] for i in range(shards)]
    merged, failed = {}, []
    for i, chunk in enumerate(chunks):
        r = run_shard(chunk, sf, cpus, reps)
        merged.update(r["queries"])
        failed.extend(r.get("failed", []))
        print(f"shard {i + 1}/{shards}: {len(r['queries'])} queries, "
              f"{sum(r['queries'].values()):.1f}s", flush=True)
    doc = {"metric": "total", "value": round(sum(merged.values()), 3),
           "unit": "sec", "queries": merged, "failed": failed,
           "sf": sf, "shards": shards, "reps": reps}
    with open(out_path, "w") as f:
        json.dump(doc, f)
    print(f"{out_path}: {len(merged)} queries, total "
          f"{doc['value']:.1f}s, failed={failed}")


if __name__ == "__main__":
    main()
