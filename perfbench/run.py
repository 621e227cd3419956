"""Lakehouse table benchmark: one closed-loop client drives a workload's SQL
through graft's SparkSqlEngine and prints its metrics.

    python3 perfbench/run.py --workload read_phases --seed 1 --seconds 20 --trace 0

Builds the program from the checkout's sources (perfbench/build.py), writes
the seeded plan (perfbench/plan.py), runs it in one JVM, checks the results
and prints a report; the last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1).
Everything the run writes stays under .bench_build/ in the checkout.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # keep perfbench/ free of build output

import build  # noqa: E402
import plan as planlib  # noqa: E402
import stats  # noqa: E402

ROOT = HERE.parent
RESULTS = build.OUT / "results"
JVM_TIMEOUT_S = 170
CPUS = min(4, os.cpu_count() or 4)  # Spark local[CPUS]; the sizes assume 4 cores
HEAP = "3g"
# what spark-submit would pass on JDK 17 (build.sbt's jdk17AddOpens)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, flush=True)


def git_rev():
    if not (ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                       text=True)
    return r.stdout.strip() or None


def run_jvm(args, cp, plan, trace, deadline):
    """Run one plan in a fresh JVM; return its run record."""
    work = build.OUT / "work" / f"{args.workload}-{args.seed}-{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    plan_file, out_file = work / "plan.json", work / "run.json"
    plan_file.write_text(json.dumps(plan))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS]
           + [f"-Xmx{HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
              "-cp", os.pathsep.join(map(str, cp)), "graft.perfbench.PerfBench",
              "--plan", str(plan_file), "--out", str(out_file), "--work", str(work),
              "--trace", str(trace), "--cpus", str(CPUS)])
    jvm_log = RESULTS / f"{args.workload}-{args.seed}-trace{trace}.log"
    try:
        with open(jvm_log, "w") as f:
            p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=work)
            try:
                code = p.wait(timeout=max(10, deadline - time.time()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise RuntimeError(f"JVM exceeded its time budget (log: {jvm_log})")
        if code != 0 or not out_file.is_file():
            raise RuntimeError(f"JVM exited with {code} (log: {jvm_log})")
        record = RESULTS / f"{args.workload}-{args.seed}-trace{trace}.json"
        shutil.copyfile(out_file, record)
        return json.loads(record.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def fmt(v):
    return "n/a" if v is None else ("inf" if v == stats.INF else f"{v:.4g}")


def report_e2e(run, plan):
    m, tails, counts = stats.end_to_end(run, plan)
    env = run["env"]
    setup = run["setup"]
    log(f"# workload {run['workload']} seed {run['seed']} traced {run['traced']}")
    log(f"# env cpus={env['cpus_available']} master={env['spark_master']} "
        f"xmx_mb={env['xmx_mb']} java={env['java_version']} spark={env['spark_version']} "
        f"git_rev={run.get('git_rev')} source_digest={run.get('source_digest', '')[:12]}")
    log(f"# cpu_probe_s start={env['cpu_probe_start_s']:.4f} end={env['cpu_probe_end_s']:.4f}"
        f" load_avg start={env['load_avg_start']:.2f} end={env['load_avg_end']:.2f}")
    log(f"# setup session_s={setup['session_s']:.3f} ddl_s={setup['ddl_s']:.3f} "
        f"loads_s={[round(x, 3) for x in setup['loads_s']]} warmup_s={setup['warmup_s']:.3f}")
    loop = run["loop"]
    log(f"# loop seconds={loop['seconds']:.2f} rounds={loop['rounds']} ops={loop['ops']}")
    for name in sorted(m):
        log(f"metric {name} = {fmt(m[name])} {stats.E2E_UNITS[name]}")
    for stem in sorted(counts):
        n, failed = counts[stem]
        t = tails[stem]
        tail_txt = f"p{t[1]:.1f}={fmt(t[0])} ms (n={t[2]})" if t else "tail n/a (n<11)"
        log(f"op {stem}: n={n} failed={failed} p50={fmt(m.get(stem + '_p50_ms'))} ms "
            f"{tail_txt}")
    return m


def failures(run):
    bad = [o for o in run["ops"] if not o["ok"]]
    for o in bad[:10]:
        log(f"FAILED op {o['id']} {o['kind']}: {o['error']}")
    return len(bad)


def report_trace(run, traced_e2e, untraced):
    """Per-layer metrics, per-kind counters, span table and tracing overhead."""
    layers = stats.per_layer(run)
    for name, v in layers.items():
        log(f"layer {name} = {fmt(v)} {stats.LAYER[name][0]}")
    loop_ops = [o for o in run["ops"] if o["phase"] == "loop"]
    for kind, (sql, ns, direct, nd) in stats.routes(loop_ops).items():
        log(f"route {kind}: sql p50={fmt(sql)} ms (n={ns}) direct p50={fmt(direct)} ms "
            f"(n={nd})")
    for kind, c in stats.per_kind_counters(run).items():
        log(f"counters {kind}: " + " ".join(f"{k}={fmt(v)}" for k, v in c.items()))
    summary = stats.span_summary(run["spans"])
    for name, s in summary.items():
        log(f"span {name}: n={s['n']} p50_ms={fmt(s['p50_ms'])} total_ms={fmt(s['total_ms'])} "
            f"self_ms={fmt(s['self_ms'])}")
    for e in run["probe_errors"]:
        log(f"probe error: {e}")
    if untraced:
        log(f"# tracing overhead vs untraced seed {untraced['seed']} (traced - untraced, "
            "SQL-routed ops):")
        # ops_per_s counts the traced loop's direct-call ops too, so it is not comparable
        for k in sorted(set(traced_e2e) & set(untraced["metrics"]) - {"ops_per_s"}):
            a, b = traced_e2e[k], untraced["metrics"][k]
            if a is not None and b is not None and stats.INF not in (a, b):
                log(f"overhead {k} = {a - b:+.4g} {stats.E2E_UNITS[k]} "
                    f"({(a - b) / b * 100 if b else 0:+.1f}%)")
    trace_file = RESULTS / f"{run['workload']}-{run['seed']}-trace.json"
    selfs = stats.self_times(run["spans"])
    trace_file.write_text(json.dumps({
        "spans": [dict(s, self_ns=selfs[s["id"]]) for s in run["spans"]],
        "summary": summary, "layers": layers}))
    log(f"# spans written to {trace_file.relative_to(ROOT)}")
    return layers


def measure(args, cp, plan, deadline):
    """The run record, and for a traced run the untraced record its overhead
    is taken against: the same seed's, else the workload's latest, else one
    made now."""
    untraced = None
    if args.trace:
        saved = RESULTS / f"{args.workload}-{args.seed}-untraced.json"
        if not saved.is_file():
            saved = RESULTS / f"{args.workload}-latest-untraced.json"
        if not saved.is_file():
            log("# no untraced record of this workload yet: running one for the overhead")
            base = run_jvm(args, cp, plan, 0, deadline - 75)
            m, _, _ = stats.end_to_end(base, plan)
            saved.write_text(json.dumps({"seed": args.seed, "metrics": m}))
        untraced = json.loads(saved.read_text())
    return run_jvm(args, cp, plan, args.trace, deadline), untraced


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=planlib.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + JVM_TIMEOUT_S
    try:
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        cp, source_digest = build.build()
    except (build.BuildError, OSError, ValueError) as e:
        sys.exit(f"perfbench: cannot run: {e}")
    if time.time() > deadline - 60:  # a first run builds; give the run its own budget
        deadline = time.time() + JVM_TIMEOUT_S
    RESULTS.mkdir(parents=True, exist_ok=True)
    plan = planlib.make_plan(args.workload, args.seed, args.seconds)

    try:
        run, untraced = measure(args, cp, plan, deadline)
    except RuntimeError as e:
        sys.exit(f"perfbench: {e}")
    run["git_rev"], run["source_digest"] = git_rev(), source_digest
    failed = failures(run)
    e2e = report_e2e(run, plan)
    correct = failed == 0 and run["model"]["final_ok"]
    attempted = len(run["ops"])
    if args.trace:
        values = report_trace(run, e2e, untraced)
        wanted = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        record = {"seed": args.seed, "metrics": e2e}
        for name in (f"{args.workload}-{args.seed}-untraced.json",
                     f"{args.workload}-latest-untraced.json"):
            (RESULTS / name).write_text(json.dumps(record))
        values = e2e
        wanted = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    missing = [k for k in wanted if values.get(k) is None or values[k] == stats.INF]
    if missing:
        log(f"# missing metrics: {missing}")
        correct = False
    metrics = {k: {"value": values[k] if k not in missing else 0.0, "unit": u}
               for k, u in wanted.items()}
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
