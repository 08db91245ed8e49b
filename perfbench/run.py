#!/usr/bin/env python3
"""Benchmark for the graft engine: builds it from source, makes seeded
inputs, drives one workload through the engine's public entry points, checks
every answer, and prints the metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. The lines before it are a readable report. See
perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_tpch  # noqa: E402
import gen_who  # noqa: E402

CPUS = os.cpu_count() or 4
HEAP_GB = 4
RUN_LIMIT_S = 170  # one run, build excluded, ends well within 180 s
BUILD_LIMIT_S = 800
CENSUS_SF = 0.001  # TPC-H-ish inputs of the traced run's ops probe
OPS_PROBE = "c10_leakage_safe_splits"
FORECAST_CUTOFF = "2024-06-03"  # the one RF cutoff of the serve-read mix

LOOP_QUERIES = [
    "lp01_label_propagation", "e02_entity_clusters", "pr01_pagerank", "sp01_bfs_hops",
    "c06_contamination_blast_radius", "cl01_dbscan_embeddings",
    "c02_neardup_consolidation", "t10_winnowing_pairs", "d06_dup_clusters",
    "c10_leakage_safe_splits", "s04_knn_ivf", "tc01_triangle_count",
]
RELATIONAL_QUERIES = [
    "q01_pricing_summary", "q04_top5_customers", "q44_sql_surface",
    "q45_correlated_subqueries", "q02_global_totals", "q10_yearly_rollup",
    "q11_avg_by_segment", "q12_distinct_dims", "q18_weekly_rollup",
    "q25_rollup_subtotals", "q26_json_extract_agg", "q30_approx_distinct",
    "q33_percentiles", "q34_pivot", "q36_array_agg_json", "q39_cube_grouping",
    "q43_conditional_agg", "q68_grouping_sets", "q46_approx_quantile",
    "q50_variant_json", "q05_left_join_counts", "q06_computed_key_join",
    "q17_case_recode_join", "q20_scalar_subquery", "q21_semi_anti_join",
    "q22_cte_chained_joins", "q53_full_outer_join", "q54_lateral_topk",
    "q55_recursive_calendar", "q07_window_lag_delta", "q08_latest_per_group",
    "q09_maxby_lastvalue", "q23_analytic_suite", "q24_minmax_scale",
    "q40_rolling_range_frame", "q41_gap_fill_ffill", "q42_distribution_ranks",
]

# primary operation, side operation, and how each workload is set up
WORKLOADS = {
    "suite-loops": {"kind": "suite", "layer": "ops", "sf": 0.01,
                    "queries": LOOP_QUERIES[:3], "warmup_passes": 2, "min_passes": 2,
                    "main": "query", "side": "pass"},
    "suite-relational": {"kind": "suite", "layer": "queries", "sf": 0.1,
                         "queries": RELATIONAL_QUERIES, "warmup_passes": 1, "min_passes": 1,
                         "main": "query", "side": "pass"},
    "serve-read": {"kind": "serve", "clients": 2, "readers": 1,
                   "setup_repeats": 1, "cycles": 3,
                   "main": "read", "side": "health"},
    "serve-crud": {"kind": "serve", "clients": CPUS, "setup_repeats": 3,
                   "keys_per_client": 8, "warmup_ops": 20, "main": "write", "side": "read"},
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build compiles: it names the code measured
    even where the checkout is not a git repository."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles engine and harness with sbt once per source digest; returns
    the runtime classpath."""
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export perfbench/Runtime/fullClasspath"],
                      cwd=HERE, env=env, limit=BUILD_LIMIT_S,
                      log_path=os.path.join(BUILD, "build.log"))
    cp = [ln for ln in out.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if not cp:
        raise SystemExit("build failed, see .bench_build/perfbench/build.log")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp[-1].strip(), digest


def run_bounded(cmd, cwd, env, limit, log_path):
    """Runs cmd in its own process group; kills the group past `limit`
    seconds. Returns stdout; stderr goes to log_path."""
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"{cmd[0]} exceeded {limit} s, see {log_path}")
    if p.returncode != 0:
        raise SystemExit(f"{cmd[0]} exited {p.returncode}, see {log_path}")
    return out


def java_cmd(classpath, scratch, config_path):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    # the whole heap is touched at start: otherwise the timed load faults in
    # up to a gigabyte of fresh heap pages, whose cost swings with the
    # host's memory pressure
    cmd = ["java", f"-Xms{HEAP_GB}g", f"-Xmx{HEAP_GB}g", "-XX:+AlwaysPreTouch"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    # the run-scope system properties of the engine's own build
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={scratch}", "-cp", classpath,
            "perfbench.Harness", config_path]
    return cmd


def serve_mix(seed, expected):
    """The serve-read request cycle: one read per route family in a fixed
    order, with the countries, the page and the forecast country drawn from
    the seed. Pages stay near the front: the cost of a page grows with its
    offset."""
    import random
    rng = random.Random(seed)
    c = rng.sample(expected["codes"], 3)
    reads = [
        "/api/total_cases", "/api/top5_summary",
        f"/api/weekly_statistics_total?page={rng.randrange(1, 6)}&limit=100",
        f"/api/weekly_statistics_by_country?country_code={c[0]}",
        f"/api/graph/country/cases?country={c[1]}", "/api/worldmap/vaccinated",
        f"/api/predict_cases?country={c[2]}&start_date={FORECAST_CUTOFF}&days=8",
        "/api/vaccinations_evolution", "/api/table/weekly_statistics",
    ]
    return reads


def pct(xs, q):
    if not xs:
        return float("nan")
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def cycle_rate(numbered_ms, cycle):
    """Requests per second of one client walking the request cycle, each
    route taking its median latency over the timed cycles: one slow cycle
    does not move it."""
    by_route = {}
    for seq, ms in numbered_ms:
        by_route.setdefault(int(seq) % cycle, []).append(ms)
    if not by_route:
        return float("nan")
    return 1e3 * len(by_route) / sum(statistics.median(v) for v in by_route.values())


def end_to_end(spec, h):
    """End-to-end metrics from the harness record of an untraced run."""
    load = h["load"]
    lat = load["latencies_ms"]
    main = lat.get(spec["main"], [])
    rate = cycle_rate(load["numbered_ms"], h["cycle"]) if "cycle" in h \
        else len(main) / load["elapsed_s"]
    side = [s * 1e3 for s in h["pass_s"]] if spec["side"] == "pass" else lat.get(spec["side"], [])
    setup = h["session_s"] + statistics.median(h["setup_s"]) if spec["kind"] == "serve" \
        else statistics.median(h["setup_s"])
    return {
        "setup_s": setup,
        "p50_ms": pct(main, 50), "p90_ms": pct(main, 90),
        "throughput_per_s": rate,
        "side_mean_ms": statistics.fmean(side) if side else float("nan"),
        "side_p90_ms": pct(side, 90),
        "heap_live_mb": h["heap_live_mb"],
    }, {k: len(v) for k, v in lat.items()}


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as f:
        return json.load(f)


def select(values, declared):
    """The declared metrics, each with its unit; a missing one is an error."""
    missing = [m["name"] for m in declared
               if not isinstance(values.get(m["name"]), (int, float))
               or not math.isfinite(values[m["name"]])]
    if missing:
        raise SystemExit(f"metrics not measured: {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}


def cpu_ticks():
    """Machine-wide CPU ticks from /proc/stat (None where absent)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_share(t0, t1):
    """Share of CPU time the hypervisor gave to other guests during the run:
    runs taken under heavy steal are not comparable."""
    if not t0 or not t1 or len(t0) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return round(d[7] / max(sum(d), 1), 4)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10).stdout.strip() or "none"
    except OSError:
        return "none"


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        log("no engine sources next to the benchmark; nothing to measure")
        return 2
    spec_json = load_spec()
    spec = WORKLOADS[args.workload]
    classpath, digest = build()

    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    scratch = os.path.join(run_dir, "tmp")
    os.makedirs(scratch)
    cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": bool(args.trace), "cpus": CPUS, "out_dir": run_dir,
           "scratch_dir": scratch, "timeout_ms": 60000, "ops_probe": OPS_PROBE,
           "forecast_cutoff": FORECAST_CUTOFF}
    cfg.update({k: v for k, v in spec.items() if k not in ("kind", "main", "side", "sf")})

    t0 = time.time()
    cfg["who_dir"] = os.path.join(run_dir, "who")
    if spec["kind"] == "serve" or args.trace:
        expected = gen_who.generate(cfg["who_dir"], args.seed)
    if spec["kind"] == "suite":
        cfg["tpch_dir"] = os.path.join(run_dir, "tpch")
        gen_tpch.generate(cfg["tpch_dir"], args.seed, spec["sf"])
    if args.trace:
        cfg["tpch_dir"] = cfg.get("tpch_dir") or os.path.join(run_dir, "tpch-census")
        if not os.path.exists(cfg["tpch_dir"]):
            gen_tpch.generate(cfg["tpch_dir"], args.seed, CENSUS_SF)
    if args.workload == "serve-read":
        cfg["mix"] = serve_mix(args.seed, expected)
    log(f"inputs generated in {time.time() - t0:.1f} s")

    config_path = os.path.join(run_dir, "config.json")
    with open(config_path, "w") as f:
        json.dump(cfg, f)
    cpu0 = cpu_ticks()
    run_bounded(java_cmd(classpath, scratch, config_path), cwd=ROOT, env=dict(os.environ),
                limit=RUN_LIMIT_S - (time.time() - t0),
                log_path=os.path.join(run_dir, "harness.log"))
    cpu1 = cpu_ticks()
    with open(os.path.join(run_dir, "harness.json")) as f:
        h = json.load(f)

    # answers, checked outside every timed region
    failures = checks.op_failures(h)
    if spec["kind"] == "suite":
        failures += checks.suite_answers(run_dir, cfg["tpch_dir"], spec["queries"],
                                         os.path.join(ROOT, ".bench_build", "oracle-cache"))
    elif args.workload == "serve-read":
        with open(os.path.join(run_dir, "bodies.json")) as f:
            failures += checks.serve_bodies(json.load(f), expected)
    attempted = checks.attempted(h)
    failed = len(failures)

    posture = {"cpus": CPUS, "heap_gb": HEAP_GB, "sf": spec.get("sf", "who-62640"),
               "seed": args.seed, "commit": git_commit(), "source": digest,
               "host": platform.node(), "trace": args.trace,
               "steal_share": steal_share(cpu0, cpu1)}
    print(f"posture {json.dumps(posture)}")
    if args.trace:
        values = h["trace"]["layers"]
        declared = spec_json["per_layer"]
        for k, v in sorted(h.get("per_query", {}).items()):
            print(f"  {k:<48} {v:.4f}")
        print(f"  measured on the load, not by probes: {', '.join(h['trace']['from_load'])}")
        for k, v in sorted(h["trace"]["self_s"].items()):
            print(f"  self {k:<43} {v:.4f} s")
        # the spans of the last traced run stay for inspection
        keep = os.path.join(ROOT, ".bench_build", "last-trace", args.workload)
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        shutil.copy(os.path.join(run_dir, "spans.jsonl"), keep)
    else:
        values, samples = end_to_end(spec, h)
        declared = spec_json["end_to_end"]
        print(f"samples {json.dumps(samples)}")
        for k in sorted(set(values) - {m["name"] for m in declared}):
            print(f"  {k:<32} {values[k]:.4f} (not bounded)")
    metrics = select(values, declared)
    for name, m in metrics.items():
        print(f"  {name:<32} {m['value']:.4f} {m['unit']}")
    print(f"  error_rate {failed / max(attempted, 1):.6f} ({failed}/{attempted})")
    for f in failures[:20]:
        print(f"  FAIL {f}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
