#!/usr/bin/env python3
"""graft benchmark: run one workload with one seed and print its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 12 --trace 0

Steps: build graft and the harness (perfbench/build.sh), generate the
seeded inputs (perfbench/gen.py, several times: set-up is reported as a
median and the repeats prove the generator deterministic), run the
workload in a fresh JVM (perfbench/harness), check its outputs, and print
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones from traced repetitions. A run record with every raw
figure, the input digest and the noise labels is printed on the line
before, and written to .bench_build/run/<workload>/record.json.

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

# The 22 GraphQueries and StreamingParity entries of SparkEntry.queries
# take ~75 s per pass on 4 cores whatever the input size (per-job cost
# dominates), too long for a run; query_loops runs three iterative loops
# with fixed round counts (PageRank, label propagation, HITS) and one
# streaming leg. See README.md.
QUERY_LOOPS = ["q117_pagerank", "q133_label_prop", "q147_hits", "q250_stream_topk"]
# ETL: the largest traffic whose run stays near a minute, so that two
# sets of ten runs per workload fit in an hour; `rep_s` is a
# repetition's nominal length, for the JVM's time limit. See README.md.
WORKLOADS = {
    "etl_incremental": {"rows": 40_000, "backfill": 4, "trickle": 4, "rep_s": 20},
    "query_loops": {"sf": 0.02, "queries": QUERY_LOOPS, "rep_s": 15},
}
SETUP_REPEATS = 2
# A repetition during which the host stole more than this many CPU
# seconds (all CPUs) per wall second measured the host, not graft: it is
# not counted, the harness makes up to MAX_CONTENDED more in its place,
# and a run left without an uncontended one is not correct.
STEAL_LIMIT = 0.1
MAX_CONTENDED = 2
# allowance for JVM start and the cold warm-up
JVM_START_S = 90


def heap() -> str:
    """The JVM heap, by the tier-1 rule: half of MemTotal, 2g..8g."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def generate(workload: str, cfg: dict, out: str, seed: int, first_only: bool = False) -> dict:
    """Write the workload's inputs under `out` (with `first_only`, the ETL
    workload's first batch only); return their description."""
    shutil.rmtree(out, ignore_errors=True)
    if workload == "etl_incremental":
        n = 1 if first_only else cfg["backfill"] + cfg["trickle"]
        truth = gen.etl_batches(out, seed, n, cfg["rows"])
        return {"rows": sum(b["rows"] + b["contacts"] for b in truth["batches"])}
    counts = gen.sf_tables(os.path.join(out, "base"), seed, cfg["sf"])
    return {"rows": counts["orders"] + counts["lineitem"] + counts["events"]}


def seed_probe(workload: str, out: str) -> str:
    """The part of the inputs under `out` whose digest must change with
    the seed: the ETL workload's first batch, or every query table."""
    if workload == "etl_incremental":
        return os.path.join(out, "landing", "batch-" + gen.batch_dates(1)[0])
    return out


def jvm_timeout(args, cfg: dict) -> float:
    """Seconds the harness JVM may take: start-up and the cold warm-up,
    then the measured repetitions (at least --seconds; a traced run makes
    a warm repetition and three measured ones), contended ones included."""
    reps = 4 if args.trace else 1
    return JVM_START_S + (1 + MAX_CONTENDED) * max(args.seconds, reps * cfg["rep_s"])


def jvm_command(args, cfg: dict, run: str, data: str) -> list:
    opens = [f"java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    with open(os.path.join(".bench_build", "spark-jars")) as fh:
        jars = os.path.join(fh.read().strip(), "*")
    cmd = ["java"] + [x for p in opens for x in ("--add-opens", p)] + [
        f"-Xmx{heap()}", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={run}/tmp", f"-Dspark.local.dir={run}/spark-local",
        f"-Dspark.sql.warehouse.dir={run}/warehouse", f"-Dspark.hadoop.hadoop.tmp.dir={run}/tmp",
        "-cp", os.pathsep.join([".bench_build/classes", jars]), "perfbench.Harness",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", data, "--work", run, "--out", f"{run}/harness.json",
        "--steal-limit", str(STEAL_LIMIT), "--max-contended", str(MAX_CONTENDED)]
    if args.workload == "etl_incremental":
        cmd += ["--metadata", os.path.join(HERE, "etl_metadata.json"),
                "--backfill", str(cfg["backfill"]), "--trickle", str(cfg["trickle"])]
    else:
        cmd += ["--queries", ",".join(cfg["queries"])]
    return cmd


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cfg = WORKLOADS[args.workload]
    if not os.path.isdir("src/main/scala"):
        print("run from the root of a graft checkout (src/main/scala not found)", file=sys.stderr)
        return 2
    if subprocess.run(["bash", os.path.join(HERE, "build.sh")]).returncode != 0:
        print("build failed", file=sys.stderr)
        return 3

    run = os.path.abspath(os.path.join(".bench_build", "run", args.workload))
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))

    # set-up, generation part: the same seed twice (median time, and the
    # two digests must agree), then a neighbouring seed, whose first ETL
    # batch or query tables must differ from this seed's
    gen_s, digests = [], []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        info = generate(args.workload, cfg, os.path.join(run, f"data{i}"), args.seed)
        gen_s.append(time.perf_counter() - t0)
        digests.append(gen.digest(os.path.join(run, f"data{i}")))
    for i in range(1, SETUP_REPEATS):
        shutil.rmtree(os.path.join(run, f"data{i}"))
    data = os.path.join(run, "data0")
    other = os.path.join(run, "data-other-seed")
    generate(args.workload, cfg, other, args.seed + 1, first_only=True)
    other_differs = gen.digest(seed_probe(args.workload, other)) != gen.digest(
        seed_probe(args.workload, data))
    shutil.rmtree(other)

    launched = time.time()
    log = open(os.path.join(run, "jvm.log"), "w")
    proc = subprocess.Popen(jvm_command(args, cfg, run, data), stdout=log, stderr=subprocess.STDOUT,
                            env=dict(os.environ, SPARK_GRAFT_CPUS="4"))
    try:
        code = proc.wait(timeout=jvm_timeout(args, cfg))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = -9
    log.close()
    if code != 0:
        with open(os.path.join(run, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        print(f"harness JVM exited with {code}", file=sys.stderr)
        return 4
    with open(os.path.join(run, "harness.json")) as fh:
        doc = json.load(fh)

    if args.workload == "etl_incremental":
        check_results = checks.etl(run, data, cfg, doc)
    else:
        check_results = checks.queries(run, data, doc)
    determinism = {"digest": digests[0], "repeat_digests_equal": len(set(digests)) == 1,
                   "other_seed_digest_differs": other_differs}

    reps = doc["reps"]
    ops = [o for r in reps for o in r["ops"]]
    failed_ops = [o for o in ops if o["error"] is not None]
    failed_checks = [c for c in check_results if not c["ok"]]
    attempted = len(ops) + len(check_results)
    failed = len(failed_ops) + len(failed_checks)
    untraced = [r for r in reps if not r["traced"]]
    # timed figures come from uncontended repetitions; a timed run that
    # has none measured the host and is not correct (a traced run labels
    # itself with host.steal_s instead: its figures carry no bound)
    uncontended = [r for r in untraced if not r["contended"]]
    correct = (failed == 0 and determinism["repeat_digests_equal"]
               and determinism["other_seed_digest_differs"] and (args.trace == 1 or bool(uncontended)))
    timed = uncontended or untraced

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    totals = [sum(o["wall_s"] for o in r["ops"]) for r in timed]
    if args.workload == "etl_incremental":
        op_walls = [o["wall_s"] for r in timed for o in r["ops"] if o["name"] != "backfill"]
        rows_per_s = med([r["backfill_rows"] / r["backfill_s"] for r in timed])
    else:
        # the result must carry every declared metric on every workload,
        # none of them 0: here the pass's throughput, total_s inverted
        op_walls = [o["wall_s"] for r in timed for o in r["ops"]]
        rows_per_s = info["rows"] / med(totals)
    setup = doc["setup"]
    setup_s = (med(gen_s) + (doc["session_ready_ms"] - launched * 1000) / 1000.0
               + setup["warmup_s"])

    if args.trace == 0:
        values = {
            "setup_s": setup_s,
            "total_s": med(totals),
            "op_p50_s": med(op_walls),
            "rows_per_s": rows_per_s,
            "success_rate": (attempted - failed) / attempted,
        }
    else:
        traced = [r for r in reps if r["traced"]]
        values = {k: statistics.mean(r["layers"][k] for r in traced) for k in traced[0]["layers"]}
        traced_totals = [sum(o["wall_s"] for o in r["ops"]) for r in traced]
        values["trace.overhead_s"] = med(traced_totals) - med(totals)
        values["error_rate"] = failed / attempted
        values["jvm.peak_rss_mb"] = doc["peak_rss_mb"]
    # names and units come from BENCHMARK.json, so the result always
    # carries exactly the metrics the benchmark declares
    with open("BENCHMARK.json") as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "inputs": determinism, "input_rows": info["rows"], "setup_gen_s": gen_s,
        "setup": setup, "host_steal_s": doc["host_steal_s"], "load_avg_1m": doc["load_avg_1m"],
        "reps": reps, "checks": check_results,
        "sample_counts": {"reps": len(timed), "contended_reps": len(untraced) - len(uncontended),
                          "ops": len(op_walls)},
    }
    with open(os.path.join(run, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"record": {k: record[k] for k in (
        "workload", "seed", "inputs", "host_steal_s", "load_avg_1m", "sample_counts")}}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
