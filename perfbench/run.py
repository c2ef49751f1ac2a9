#!/usr/bin/env python3
"""The repo benchmark: one command per workload run, from the repo root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --compare <base> <new>

A run builds the program and the harness (perfbench/build.py), generates its
seeded inputs (perfbench/gen.py), runs the closed-loop harness JVM
(graft.perfbench.Harness), checks every query's result against its DuckDB
oracle twin (perfbench/oracle.py), and prints one
JSON result line last on stdout. The full run record (per-query plan
fingerprints, hashes, samples; spans in a traced run) is kept under
.bench_build/runs/. `--compare` diffs two sets of saved run records, per
workload and metric, against the bounds in BENCHMARK.json. See
perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ("wordcount_corpus", "cold_build")
CORPUS_DOCS = 10000          # ~0.55M tokens, Zipf over a 20k-word vocabulary
FIXTURE_SEED = 42            # cold_build tables do not depend on --seed
# cold queries that tokenize the fixture's documents (tokens_per_s on cold_build)
COLD_TOKENIZING = ("q_textrank",)
DEADLINE_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def spec():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_jvm(classpath, args, timeout):
    build = os.path.abspath(".bench_build")
    tmp = os.path.join(build, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-cp", classpath, "graft.perfbench.Harness"] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise SystemExit(f"perfbench: harness exceeded {timeout:.0f} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(out[-6000:])
        raise SystemExit(f"perfbench: harness failed with exit code {proc.returncode}")
    return out


def check_results(workload, rec, data_dir, results_dir):
    """Check the run's results against the DuckDB oracle: by hash on the
    word-count corpus, value by value (float tolerance) on cold_build. The
    harness has already compared the hashes of its two hashing passes.
    Returns the list of mismatches."""
    import oracle
    bad = list(rec["hash_mismatches"])
    t0 = time.time()
    if workload == "wordcount_corpus":
        got = {h["query"]: h["hash"] for h in rec["hashes"]}
        want = oracle.hashes(data_dir, dict(rec["oracle_sql"]))
        bad += [f"{q}: {h} != DuckDB oracle {want[q]}" for q, h in sorted(got.items()) if want[q] != h]
    else:
        bad += oracle.compare(data_dir, dict(rec["oracle_sql"]), results_dir)
    rec["oracle_s"] = time.time() - t0
    return bad


def metrics_of(rec, stats, trace, bench):
    pass_s = median(rec["pass_samples_s"])
    if trace:
        layers = dict(rec["layers"])
        names = [(m["name"], m["unit"]) for m in bench["per_layer"]]
        return {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in names}
    # tokens the pass tokenizes: the corpus once per word-count query, the
    # fixture's documents once per cold query that tokenizes them
    tokenizing = len(rec["per_query"]) if rec["workload"] == "wordcount_corpus" else len(COLD_TOKENIZING)
    values = {
        "setup_s": rec["setup_s"],
        "pass_s": pass_s,
        "tokens_per_s": stats["tokens"] * tokenizing / pass_s,
        "heap_retained_mb": rec["heap_retained_mb"],
    }
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}


def run(args):
    if not (os.path.isdir(os.path.join("src", "main", "scala")) and os.path.isfile("BENCHMARK.json")):
        raise SystemExit("perfbench: run from the repo root; no program sources here")
    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    bench = spec()
    import build
    t0 = time.time()
    classpath = build.build()
    build_s = time.time() - t0
    t_start = time.time()  # the run's own deadline starts after a (first-run) build

    import gen
    t0 = time.time()
    data = os.path.join(".bench_build", "data")
    if args.workload == "wordcount_corpus":
        data_dir = os.path.join(data, f"corpus-{args.seed}-{CORPUS_DOCS}")
        stats = gen.corpus(args.seed, CORPUS_DOCS, data_dir)
    else:
        data_dir = os.path.join(data, f"fixture-{FIXTURE_SEED}")
        stats = gen.fixture(FIXTURE_SEED, data_dir)
    gen_s = time.time() - t0

    runs = os.path.join(".bench_build", "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}")
    remaining = DEADLINE_S - (time.time() - t_start)
    out = run_jvm(classpath, [args.workload, os.path.abspath(data_dir), str(args.seed),
                              str(args.seconds), str(args.trace), os.path.abspath(stem + ".json")],
                  remaining)
    with open(stem + ".json") as f:
        rec = json.load(f)
    results_dir = stem + ".results"
    bad = check_results(args.workload, rec, data_dir, results_dir)
    if not bad:  # a mismatching result stays for inspection
        shutil.rmtree(results_dir, ignore_errors=True)
    for b in bad + rec["errors"]:
        log(f"FAILED {b}")
    failed = rec["failed"] + len(bad)
    attempted = max(rec["attempted"], 1)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics_of(rec, stats, args.trace, bench)}
    rec.update({"input": stats, "build_s": build_s, "gen_s": gen_s, "check_failures": bad,
                "failed_frac": failed / attempted, "result": result, "jvm_log_tail": out[-2000:]})
    if len(rec["query_samples_s"]) >= 100:
        rec["query_p90_s"] = statistics.quantiles(rec["query_samples_s"], n=10)[-1]
    with open(stem + ".json", "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def load_results(path):
    """(workload, result line) of each correct run in a saved run record or
    a directory of them."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if "result" in rec and rec["result"]["correct"]:
            out.append((rec["workload"], rec["result"]))
    return out


def compare(base_path, new_path):
    """Per workload and metric: the median of each side and its change,
    flagging end-to-end metrics that got worse by more than their bound."""
    bench = spec()
    base, new = load_results(base_path), load_results(new_path)
    workloads = sorted({w for w, _ in base} & {w for w, _ in new})
    if not workloads:
        raise SystemExit("perfbench: no workload with correct runs on both sides")
    worse = 0
    print(f"{'workload':17} {'metric':44} {'unit':>8} {'base':>12} {'new':>12} {'change':>8} {'bound':>6}")
    for w in workloads:
        for m in bench["end_to_end"] + bench["per_layer"]:
            b = [r["metrics"][m["name"]]["value"] for x, r in base if x == w and m["name"] in r["metrics"]]
            n = [r["metrics"][m["name"]]["value"] for x, r in new if x == w and m["name"] in r["metrics"]]
            if not b or not n:
                continue
            mb, mn = median(b), median(n)
            change = (mn - mb) / abs(mb) if mb else 0.0
            bound = m.get("bound")
            regress = bound is not None and (change if m["better"] == "lower" else -change) > bound
            worse += regress
            print(f"{w:17} {m['name']:44} {m['unit']:>8} {mb:12.5g} {mn:12.5g} {change:+8.1%} "
                  f"{'' if bound is None else format(bound, '.2f'):>6}{'  WORSE' if regress else ''}")
    return 1 if worse else 0


def main():
    # a terminated run still stops its harness JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar=("BASE", "NEW"))
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    if not args.workload:
        ap.error("--workload is required")
    if args.seconds is None:
        args.seconds = spec()["run_seconds"]
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
