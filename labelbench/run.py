#!/usr/bin/env python3
"""The label-mapper benchmark.

    python3 labelbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark's
client from source when they changed (build.py), generates
the workload's inputs from the seed (gen.py), runs the closed-loop
client in a fresh JVM (labelbench.Main), checks every request's full
result against the DuckDB oracle (oracle.py) and prints a report, then
as its last line one JSON object: with --trace 0 the end-to-end metrics
of BENCHMARK.json, with --trace 1 its per-layer metrics.

Workloads, their requests and input tables are in spec.json. Inputs,
oracle answers, build state and traces live under labelbench/.work.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import build
import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 2          # fresh JVMs whose set-up time is measured per run
RUN_TIMEOUT_S = 150  # JVM budget of a run; with the oracle check it ends within 180 s
HEAP = ["-Xms2g", "-Xmx2g"]


def fail(msg, code=2):
    print(f"labelbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(launch, args, out, deadline):
    """Starts one JVM of the client and waits for it; returns (launch
    epoch seconds, CPU ticks at launch, result dict)."""
    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = [o for o in launch["javaOptions"] if not o.startswith("-Xmx")]
    cmd = ([build.java()] + HEAP + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + opts +
           ["-cp", os.pathsep.join(launch["classpath"]), "labelbench.Main"] +
           [f"{k}={v}" for k, v in args.items()] + [f"out={out}", f"localDir={tmp}"])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        ticks0 = cpu_ticks()
        t0 = time.time()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=out)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the client JVM did not finish in time, see {log.name}", 4)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"the client JVM failed with exit code {rc}", 4)
    with open(os.path.join(out, "result.json")) as f:
        return t0, ticks0, json.load(f)


def cpu_ticks():
    """(steal, busy) CPU ticks of the machine so far, counted as
    labelbench.Main.cpuTicks does; (0, 0) where /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], t[0] + t[1] + t[2] + t[5] + t[6] + t[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def net_of_steal(wall, t0, t1):
    """`wall` less the share of the busy ticks between t0 and t1 that the
    hypervisor gave to other guests (labelbench.Main.netOfSteal)."""
    busy = t1[1] - t0[1]
    return wall * (1 - (t1[0] - t0[0]) / busy) if busy > 0 else wall


def quantile(values, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def counted(res, traced):
    """The steady passes the metrics use: not the warm-up pass, and the
    traced or the untraced ones."""
    return [p for p in res["steady"]["passes"] if not p["warmup"] and p["traced"] == traced]


def end_to_end(res, setups, rows_per_pass, key):
    """The end-to-end metrics from the `key` time of every interval:
    net_s (net of steal, what BENCHMARK.json reports) or wall_s."""
    passes = counted(res, traced=False)
    samples = [r[key] for p in passes for r in p["requests"]]
    return {
        "setup_s": statistics.median(s[key] for s in setups),
        "cold_pass_s": res["cold"][key],
        "request_s.p50": quantile(samples, 0.5),
        "request_s.p90": quantile(samples, 0.9),
        "rows_per_s": statistics.median(rows_per_pass / p[key] for p in passes),
        "live_heap_mb": res["live_heap_bytes"] / 2**20,
    }, len(samples)


def per_layer(res, wl, warm_p50):
    """Per-layer metrics: per-pass sums over the traced steady passes,
    reported as the median over those passes; ratios from the sums."""
    cores = res["cores"]
    layers = res["layers"]
    traced = counted(res, traced=True)
    untraced = counted(res, traced=False)

    def pass_sums(p):
        reqs = p["requests"]
        lay = [layers.get(r["id"], {}) for r in reqs]

        def s(key):
            return sum(x.get(key, 0) for x in lay)
        ph = [r.get("phases", {}) for r in reqs]
        wall = sum(r["wall_s"] for r in reqs)
        m = {
            "entry.build_s": sum(r.get("build_s", 0) for r in reqs),
            "catalyst.plan_s": sum(r.get("plan_s", 0) for r in reqs),
            "catalyst.analysis_s": sum(x.get("analysis", 0) for x in ph),
            "catalyst.optimizer_s": sum(x.get("optimization", 0) for x in ph),
            "catalyst.planning_s": sum(x.get("planning", 0) for x in ph),
            "exec_s": sum(r.get("exec_s", 0) for r in reqs),
            "codegen.compiles": sum(r["codegen_compiles"] for r in reqs),
            "codegen.compile_s": sum(r["codegen_compile_s"] for r in reqs),
            "gc.s": sum(r["gc_s"] for r in reqs),
            "streaming.batches": sum(len(x.get("streaming.batch_ms", [])) for x in lay),
            "streaming.state_partitions": max([x.get("streaming.state_partitions", 0) for x in lay] or [0]),
        }
        for k in ["driver.jobs", "driver.stages", "tasks.count", "tasks.run_s", "tasks.cpu_s",
                  "sources.input_bytes", "sources.input_records", "sources.scan_tasks",
                  "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
                  "streaming.input_rows", "streaming.state_rows", "streaming.state_mem_bytes",
                  "streaming.commit_s"]:
            m[k] = s(k)
        m["tasks.per_job"] = m["tasks.count"] / m["driver.jobs"] if m["driver.jobs"] else 0.0
        m["tasks.busy_ratio"] = m["tasks.run_s"] / (cores * wall) if wall else 0.0
        return m

    sums = [pass_sums(p) for p in traced]
    out = {k: statistics.median(s[k] for s in sums) for k in sums[0]}
    batch_s = [b / 1e3 for p in traced for r in p["requests"]
               for b in layers.get(r["id"], {}).get("streaming.batch_ms", [])]
    out["streaming.batch_s.p50"] = quantile(batch_s, 0.5)
    out["streaming.batch_s.p90"] = quantile(batch_s, 0.9)
    cold = res["cold"]["requests"]
    out["entry.cold_build_s"] = sum(r.get("build_s", 0) for r in cold)
    out["codegen.cold_compiles"] = sum(r["codegen_compiles"] for r in cold)
    out["codegen.cold_compile_s"] = sum(r["codegen_compile_s"] for r in cold)
    out["cache.scans"] = sum(res["cache_scans"].values())
    cold_by = {r["name"]: r["net_s"] for r in cold}
    out["fitted.build_s"] = sum(max(0.0, cold_by[n] - warm_p50[n])
                                for n in wl.get("memo_owners", []) if n in warm_p50)
    out.update(res["stages"])
    t_samples = [r["net_s"] for p in traced for r in p["requests"]]
    u_samples = [r["net_s"] for p in untraced for r in p["requests"]]
    out["trace_overhead"] = quantile(t_samples, 0.5) / quantile(u_samples, 0.5) - 1
    return out


RATIO_BASES = {
    "tasks.per_job": "tasks.count / driver.jobs",
    "tasks.busy_ratio": "tasks.run_s / (cores x summed request wall of the pass)",
    "trace_overhead": "traced request_s.p50 / untraced request_s.p50 - 1",
    "fitted.build_s": "sum over memo owners of cold wall - warm p50",
}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json is not at the checkout root")
    with open(bench_json) as f:
        bench = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}; known: {', '.join(spec['workloads'])}")
    wl = spec["workloads"][a.workload]

    t_build = time.time()
    try:
        launch, fingerprint = build.build()
    except (OSError, build.BuildError) as e:
        fail(f"build failed: {e}", 3)
    t_start = time.time()
    timeline = {"build_s": t_start - t_build}
    deadline = t_start + RUN_TIMEOUT_S

    data_dir, manifest = gen.generate(wl["tables"], a.seed, os.path.join(WORK, "data"))
    timeline["inputs_s"] = time.time() - t_start
    rows = {name: wl_rows(manifest, tables) for name, tables in wl["requests"].items()}
    names = list(wl["requests"])

    out = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    args = {"mode": "run", "workload": a.workload, "seconds": a.seconds,
            "trace": a.trace, "data": data_dir, "requests": ",".join(names), "cores": cores}
    launched, ticks0, res = run_jvm(launch, args, os.path.join(out, "main"), deadline)
    ticks1 = cpu_ticks()
    timeline["main_jvm_s"] = time.time() - launched
    setups = []
    for launched_i, ticks_i, r in [(launched, ticks0, res)] + [
            run_jvm(launch, {"mode": "setup", "cores": cores},
                    os.path.join(out, f"setup{i}"), deadline) for i in range(1, SETUPS)]:
        wall = r["ready_epoch_s"] - launched_i
        setups.append({"wall_s": wall, "net_s": net_of_steal(wall, ticks_i, r["ready_ticks"])})

    timeline["setup_jvms_s"] = time.time() - launched - timeline["main_jvm_s"]
    t_oracle = time.time()
    verdicts = oracle.check(data_dir, os.path.join(out, "main", "results"),
                            json.load(open(os.path.join(out, "main", "oracle_sql.json"))),
                            names, os.path.join(WORK, "oracle"),
                            f"{a.workload}/{a.seed}/{manifest['fingerprint']}", cores)
    timeline["oracle_s"] = time.time() - t_oracle

    # every timed request is an attempt; a cold-pass request whose result
    # does not match the oracle failed too
    timed = res["cold"]["requests"] + [r for p in res["steady"]["passes"] for r in p["requests"]]
    failures = [(r["id"], r["error"]) for r in timed if not r["ok"]]
    failures += [(f"0/{n}", f"result differs from the oracle: {v}") for n, v in verdicts.items()
                 if v and not any(rid == f"0/{n}" for rid, _ in failures)]
    attempted = len(timed)

    metrics, n_samples = end_to_end(res, setups, sum(rows.values()), "net_s")
    wall_metrics, _ = end_to_end(res, setups, sum(rows.values()), "wall_s")
    warm = {n: [r["net_s"] for p in counted(res, traced=False)
                for r in p["requests"] if r["name"] == n] for n in names}
    warm_p50 = {n: quantile(v, 0.5) for n, v in warm.items()}

    print(f"workload {a.workload}  seed {a.seed}  cores {cores}  inputs {data_dir}")
    print(f"  generator: {json.dumps(manifest['tables'], sort_keys=True)}")
    print(f"  steady samples {n_samples}, passes "
          f"{len(counted(res, traced=False))} (after one warm-up pass), "
          f"rows per pass {sum(rows.values())}")
    print("  timeline: " + ", ".join(f"{k} {v:.1f}" for k, v in timeline.items()) +
          f", cold_s {res['cold']['wall_s']:.1f}, steady_s {res['steady']['wall_s']:.1f}")
    # p90 needs ten samples beyond it: short runs pool their samples with
    # earlier runs of the same build and workload for the report
    if n_samples < 100:
        pool_path = os.path.join(WORK, "pool", f"{a.workload}-{fingerprint[:16]}.json")
        os.makedirs(os.path.dirname(pool_path), exist_ok=True)
        pool = json.load(open(pool_path)) if os.path.exists(pool_path) else []
        pool.append([r["net_s"] for p in counted(res, traced=False)
                     for r in p["requests"]])
        with open(pool_path, "w") as f:
            json.dump(pool, f)
        pooled = [x for run in pool for x in run]
        print(f"  request_s pooled over {len(pool)} runs of this build: p50 "
              f"{quantile(pooled, 0.5):.4f} s, p90 {quantile(pooled, 0.9):.4f} s "
              f"({len(pooled)} samples)")
    if ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to other guests: the main noise source
        # on a shared host, and what the metrics are taken net of
        print(f"  host steal {100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]):.1f}% "
              f"of busy CPU ticks during the measuring JVM")
    print(f"  failed_ratio {len(failures) / attempted:.4f} ({len(failures)} of {attempted})")
    for rid, why in failures:
        print(f"  FAILED {rid}: {why}")
    print("  reuse report: request, cold s, warm p50 s (net of steal), cache.scans")
    cold_by = {r["name"]: r["net_s"] for r in res["cold"]["requests"]}
    for n in names:
        flag = "  warm < 5% of cold" if warm_p50[n] < 0.05 * cold_by[n] else ""
        print(f"    {n:32s} {cold_by[n]:8.3f} {warm_p50[n]:8.3f} {res['cache_scans'].get(n, 0):3d}{flag}")

    if a.trace:
        layer = per_layer(res, wl, warm_p50)
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        print(f"  per-layer metrics ({a.workload}, per traced steady pass unless named cold):")
        for k in sorted(layer):
            why = RATIO_BASES.get(k, "rows out / operators.gate_rows_in" if k.endswith(".keep_ratio") else None)
            base = f"   base: {why}" if why else ""
            print(f"    {k:34s} {layer[k]:14.6g} {units.get(k, '')}{base}")
        sidecar = os.path.join(WORK, "traces", f"{a.workload}-{a.seed}.jsonl")
        os.makedirs(os.path.dirname(sidecar), exist_ok=True)
        with open(sidecar, "w") as f:
            for rid, lay in sorted(res["layers"].items()):
                f.write(json.dumps({"type": "request", "workload": a.workload, "seed": a.seed,
                                    "request": rid, **lay}) + "\n")
            f.write(json.dumps({"type": "summary", "workload": a.workload, "seed": a.seed,
                                **layer}) + "\n")
            with open(os.path.join(out, "main", "spans.jsonl")) as s:
                for line in s:
                    f.write(json.dumps({"type": "span", "workload": a.workload,
                                        **json.loads(line)}) + "\n")
        print(f"  sidecar {sidecar}")
        names_out = [m["name"] for m in bench["per_layer"]]
        values = layer
    else:
        names_out = [m["name"] for m in bench["end_to_end"]]
        values = metrics
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    # request_s.p90 rests on fewer than ten samples beyond it in one run,
    # so it is printed (and pooled above) but is no BENCHMARK.json metric
    print(f"  {'metric':16s} {'net of steal':>14s} {'wall':>14s}")
    for k in metrics:
        print(f"  {k:16s} {metrics[k]:14.6f} {wall_metrics[k]:14.6f} {units.get(k, 's')}")
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": {k: {"value": values[k], "unit": units[k]} for k in names_out}}))


def wl_rows(manifest, tables):
    return sum(manifest["tables"][t]["rows"] for t in tables)


if __name__ == "__main__":
    main()
