#!/usr/bin/env python3
"""Repository benchmark of the graft engine, end to end and per layer.

Usage:
  python3 benchmark/run.py --workload <sql_mix|curate_batch|stream_curate>
      --seed <n> --seconds <s> --trace <0|1> [--smoke]

One run builds the engine and the harness if their sources changed
(benchmark/build.py), makes the workload's inputs from --seed, runs the
harness JVM (benchmark/scala) at local[<cpus>], checks every timed output
and prints a report. The last stdout line is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
holding the end-to-end metrics of BENCHMARK.json with --trace 0 and the
per-layer metrics with --trace 1. The exit code is 0 only when every check
passed.

Workloads (see BENCHMARK.json for why each was chosen):
  sql_mix       every STRIDE-th query (by name) of the reference,
                relational, TPC-H, time-window and modern-SQL modules over
                harness tables generated at SQL_SF; the seed permutes the
                query order
  curate_batch  the composed curation pipelines and standing-index probes
                over a Heaps-vocabulary corpus from scripts/gen_scale_corpus.py
                with its SEED set to --seed; standing-index builds are set-up
  stream_curate StreamingCurate.curateStream over the doc_id % 10 != 0
                documents of the generated tables: an open loop at
                STREAM_RATE docs/s with Poisson arrivals from the seed,
                closed loops and a single batch, whose verdicts must agree

The batch workloads measure one pass over their mix: the same work
whatever the engine's speed. stream_curate sends STREAM_RATE * --seconds
documents.

Checks: queries with a DuckDB oracle are compared by scripts/check_oracle.py
on the workload's own input; the no-oracle queries must meet their pinned
row floor and schema; a query that throws or fails its check counts in
failed_frac and is left out of the latencies.

The inputs are the smallest the generators make (tables at SQL_SF, the
corpus at CURATE_SF); --smoke also cuts sql_mix to every SMOKE_STRIDE-th
query (used by benchmark/test_benchmark.py).

Each engine jar gets a class-data archive once, before its first measured
run (see class_archive); JVM_BUDGET_S starts after that.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_tables  # noqa: E402

WORKLOADS = ("sql_mix", "curate_batch", "stream_curate")
CPUS = len(os.sched_getaffinity(0))
HEAP = "3g"
JVM_BUDGET_S = 150
TRAIN_BUDGET_S = 600
TABLES_SEED = 42
SQL_SF = 0.001
CURATE_SF = 0.01
STREAM_RATE = 4.0
# sql_mix runs every STRIDE-th query; --smoke every SMOKE_STRIDE-th
STRIDE = 4
SMOKE_STRIDE = 12
CONTENDED_FRAC = 0.25


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def file_digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def cached_dir(name, make):
    """<build>/data/<name>, made once by make(tmpdir)."""
    d = os.path.join(build.build_dir(), "data", name)
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.rename(tmp, d)
    return d


def tables_dir(sf):
    gen = os.path.join(HERE, "gen_tables.py")
    return cached_dir(f"tables-sf{sf}-seed{TABLES_SEED}-{file_digest(gen)}",
                      lambda out: gen_tables.generate(sf, out, TABLES_SEED))


def corpus_dir(sf, seed):
    script = os.path.join(ROOT, "scripts", "gen_scale_corpus.py")

    def make(out):
        spec = importlib.util.spec_from_file_location("gen_scale_corpus", script)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        mod.SEED = seed
        argv = sys.argv
        sys.argv = [script, str(sf), out, "--vocab=heaps"]
        try:
            with contextlib.redirect_stdout(sys.stderr):
                mod.main()
        finally:
            sys.argv = argv
    return cached_dir(f"corpus-sf{sf}-seed{seed}-{file_digest(script)}", make)


def java_cmd(jar, run_dir, cds, main, args):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    cp = jar + ":" + ":".join(build.jars())
    return (build.java_base(os.path.join(run_dir, "tmp")) + [f"-Xmx{HEAP}", cds] + opens +
            ["-Dspark.ui.enabled=false", "-cp", cp, f"graft.perfbench.{main}"] + args)


def run_jvm(jar, run_dir, cds, main, args, budget_s):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(java_cmd(jar, run_dir, cds, main, args), stdout=f, stderr=f,
                               timeout=budget_s, cwd=run_dir)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"{main} JVM failed ({code}); log above", 1)
    with open(log) as f:
        head = f.read(4096)
    if "Unable to use shared archive" in head:
        # a run without the archive would load every class again and read
        # ~8 s slower; drop the archive so that the next run records it anew
        os.remove(build.archive(jar))
        fail(f"the class-data archive did not load:\n{head.splitlines()[0]}", 1)


def class_archive(jar, tables):
    """The jar's class-data archive, recorded once by graft.perfbench.Train:
    a fixed untraced run of all three workloads on seed-independent inputs,
    at smoke size to keep the build short.
    Every measured run maps the same archive instead of parsing and
    verifying thousands of Spark classes again (about 8 s a run), so
    set-up time does not depend on which runs came before."""
    arc = build.archive(jar)
    if not os.path.exists(arc):
        print("[perfbench] recording the class-data archive", file=sys.stderr, flush=True)
        train_dir = os.path.join(os.path.dirname(jar), "train")
        shutil.rmtree(train_dir, ignore_errors=True)
        args = ["--workload", "train", "--dir", tables,
                "--corpus", corpus_dir(CURATE_SF, TABLES_SEED), "--seed", str(TABLES_SEED),
                "--seconds", "5", "--trace", "0", "--out", train_dir,
                "--cpus", str(CPUS), "--stride", str(SMOKE_STRIDE), "--rate", str(STREAM_RATE)]
        run_jvm(jar, train_dir, f"-XX:ArchiveClassesAtExit={arc}.tmp", "Train", args,
                TRAIN_BUDGET_S)
        os.replace(arc + ".tmp", arc)
        shutil.rmtree(train_dir, ignore_errors=True)
    return arc


def check_outputs(run_dir, data_dir):
    """{(pass, query): 'PASS'|'FAIL'|'rows'} from scripts/check_oracle.py."""
    status = {}
    check_root = os.path.join(run_dir, "check")
    if not os.path.isdir(check_root):
        return status
    for pdir in sorted(os.listdir(check_root)):
        r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check_oracle.py"),
                            os.path.join(check_root, pdir), data_dir],
                           capture_output=True, text=True, env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"))
        for line in r.stdout.splitlines():
            m = re.match(r"^(PASS|FAIL|rows) ([^:]+):", line)
            if m:
                status[(int(pdir[1:]), m.group(2))] = m.group(1)
                if m.group(1) == "FAIL":
                    print(f"# check {line}")
        if r.returncode not in (0, 1):
            sys.stderr.write(r.stderr)
            fail(f"check_oracle.py crashed on {pdir}", 1)
    return status


def tail(xs):
    """(value, percentile, n): the highest percentile with at least ten
    samples above it; value None when that percentile is below the median."""
    xs = sorted(xs)
    n = len(xs)
    if n < 20:
        return None, None, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def tail_text(xs):
    v, pct, n = tail(xs)
    return f"n/a (n={n}, fewer than 20 samples)" if v is None else f"{v} s (p{pct:.1f}, n={n})"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def failure(o, status):
    """Why a timed query counts as failed, or None when it passed."""
    st = status.get((o.get("check_pass"), o["q"]))
    if "error" in o or st not in ("PASS", "rows"):
        return o.get("error") or f"check {st}"
    return None


def batch_metrics(res, status):
    obs = res["obs"] + res.get("traced", [])
    failed = [(o["q"], failure(o, status)) for o in obs if failure(o, status)]
    ok_walls = [o["wall_s"] for o in res["obs"] if not failure(o, status)]
    if not ok_walls:
        fail("every query failed", 1)
    e2e = {"setup_s": res["setup"]["setup_s"], "pass_s": res["pass_s"],
           "latency_mean_s": statistics.mean(ok_walls)}
    print(f"# mix_s {e2e['pass_s']} s, query_p50_s {median(ok_walls)} s, "
          f"query_tail_s {tail_text(ok_walls)}")
    print(f"# one measured pass of {len(res['mix'])} queries; "
          f"priming pass {res['prime_s']:.3f} s")
    for q, e in sorted(set(failed)):
        print(f"# FAILED {q}: {e}")
    noisy = sorted({o["q"] for o in obs if o.get("other_cpu_frac", 0) > CONTENDED_FRAC})
    if noisy:
        print(f"# contended observations (co-tenant cpu > {CONTENDED_FRAC}): {', '.join(noisy)}")
    return e2e, len(obs), len(failed)


def batch_layers(res):
    traced = [t for t in res["traced"] if "error" not in t]
    keys = [k for k in traced[0] if "." in k] if traced else []
    layers = {k: sum(t[k] for t in traced) for k in keys}
    for k, v in {**res["setup"]["build_s"], **res.get("other_build_s", {})}.items():
        layers[f"standing.build_s.{k}"] = v
    # reconciliation: construct + plan + action against the untraced wall
    over = res["traced_pass_s"] - res["pass_s"]
    print(f"# tracing overhead: traced pass {res['traced_pass_s']:.3f} s - untraced "
          f"pass {res['pass_s']:.3f} s = {over:+.3f} s")
    print("# query  untraced_wall  construct+plan+action(traced)  diff")
    untraced = {o["q"]: o["wall_s"] for o in res["obs"]}
    for t in traced:
        parts = t["operators.construct_s"] + t["catalyst.plan_s"] + t["exec.action_s"]
        u = untraced.get(t["q"], 0.0)
        print(f"#   {t['q']:<40} {u:8.3f} {parts:8.3f} {parts - u:+8.3f}")
    return layers


def span_self_times(path):
    with open(path) as f:
        spans = json.load(f)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                    for c in kids.get(s["id"], []))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end_ms"] - s["start_ms"] - covered) / 1e3
    return out, len(spans)


def stream_metrics(res):
    lat = res["open"]["latencies_s"]
    e2e = {"setup_s": res["setup"]["setup_s"], "pass_s": res["closed"]["wall_s"],
           "latency_mean_s": statistics.mean(lat)}
    digests = {k: res[k]["digest"] for k in ("open", "closed", "one")}
    print(f"# {res['n_docs']} docs at {res['rate']} docs/s offered; open loop "
          f"{res['open']['batches']} batches, backlog max {res['open']['backlog_docs_max']}, "
          f"generator late max {res['open']['gen_late_s']:.4f} s")
    print(f"# stream_latency_p50_s {median(lat)} s, stream_latency_tail_s {tail_text(lat)}, "
          f"stream_docs_per_s {res['closed']['docs_per_s']} 1/s "
          f"(median of closed loops of {res['closed']['batches']} batches: "
          f"{' '.join(f'{w:.3f}' for w in res['closed']['walls_s'])} s)")
    print(f"# verdict digests {digests}; verdicts {res['verdict_counts']}")
    attempted = res["checked_loops"] * res["n_docs"]
    failed = res["mismatched_docs"]
    if len(set(digests.values())) != 1 and failed == 0:
        failed = res["n_docs"]
    return e2e, attempted, failed


def stream_layers(res):
    tr = res["traced"]
    layers = {k: v for k, v in tr.items() if k.startswith("streaming.")}
    layers["streaming.docs_per_s_local1"] = res["local1"]["docs_per_s"]
    lat = tr["latencies_s"]
    print(f"# tracing overhead: traced open-loop p50 {median(lat):.4f} s - untraced "
          f"{median(res['open']['latencies_s']):.4f} s = "
          f"{median(lat) - median(res['open']['latencies_s']):+.4f} s")
    print(f"# traced digest {tr['digest']}, local[1] digest {res['local1']['digest']}")
    return layers, tr["mismatched_docs"] + res["local1"]["mismatched_docs"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    t_start = time.time()
    for need in ("src/main/scala", "scripts/check_oracle.py", "scripts/gen_scale_corpus.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from a checkout of the repository")
    spec = bench_spec()
    print(f"# workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}"
          f"{' smoke' if a.smoke else ''} cpus {CPUS}")

    jar = build.build()
    tables = tables_dir(SQL_SF)
    arc = class_archive(jar, tables)
    t_built = time.time()
    data = corpus_dir(CURATE_SF, a.seed) if a.workload == "curate_batch" else tables
    print(f"# input {os.path.relpath(data, ROOT)}")

    run_dir = os.path.join(build.build_dir(), "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--workload", a.workload, "--dir", data, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", run_dir,
            "--cpus", str(CPUS), "--stride", str(SMOKE_STRIDE if a.smoke else STRIDE),
            "--rate", str(STREAM_RATE)]
    t_jvm = time.time()
    run_jvm(jar, run_dir, f"-XX:SharedArchiveFile={arc}", "Main", args, JVM_BUDGET_S)
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    t_ran = time.time()

    layers = {}
    if a.workload == "stream_curate":
        e2e, attempted, failed = stream_metrics(res)
        if a.trace:
            layers, extra_failed = stream_layers(res)
            failed += extra_failed
    else:
        status = check_outputs(run_dir, data)
        e2e, attempted, failed = batch_metrics(res, status)
        if a.trace:
            layers = batch_layers(res)
    layers["rss_peak_bytes"] = res["rss_peak_bytes"]
    layers["failed_frac"] = failed / attempted
    print(f"# wall: build and class archive {t_built - t_start:.1f} s, "
          f"inputs {t_jvm - t_built:.1f} s, "
          f"harness {t_ran - t_jvm:.1f} s, checks and report {time.time() - t_ran:.1f} s")
    c = res["contention"]
    print(f"# contention: co-tenant cpu {c['other_cpu_frac']:.3f} of the machine, "
          f"loadavg1 {c['load1_start']:.2f} -> {c['load1_end']:.2f}"
          f"{'  NOISY RUN' if c['other_cpu_frac'] > CONTENDED_FRAC else ''}")
    print(f"# failed_frac {failed}/{attempted} = {failed / attempted:.4f}")
    # keep the last run's raw record and spans; drop the bulky run dir
    keep = os.path.join(build.build_dir(), "last", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for fn in ("result.json", "spans.json", "jvm.log"):
        if os.path.exists(os.path.join(run_dir, fn)):
            shutil.copy(os.path.join(run_dir, fn), keep)
    shutil.rmtree(run_dir, ignore_errors=True)
    if a.trace and "spans_file" in res:
        self_t, n = span_self_times(os.path.join(keep, "spans.json"))
        print(f"# {n} spans in {os.path.relpath(keep, ROOT)}/spans.json; self time by span: " +
              ", ".join(f"{k} {v:.3f} s" for k, v in sorted(self_t.items())))

    want = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = layers if a.trace else e2e
    metrics = {}
    for m in want:
        v = source.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"# metric {m['name']} = {v} {m['unit']}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
