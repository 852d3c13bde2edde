"""graft benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload ref_tail --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Builds graft from this checkout's sources (``build.py``), generates the
inputs (``gen.py``), drives graft in one JVM (``src/perfbench``), checks
the results, and prints one JSON line per report: the full report first
(every metric the run has, provenance, checks), then the result line
``{"correct", "attempted", "failed", "metrics"}`` as the last line.
With ``--trace 0`` the result holds the end-to-end metrics, with
``--trace 1`` the per-layer metrics. Exits 1 when a check fails.
See README.md in this directory.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

REPO = HERE.parent
DATA_SEED = 42
XMX = "3g"
DEADLINE_S = 170
WORKLOADS = {
    "ref_tail": {"sf": 0.1, "queries": [f"q{i:02d}_" for i in range(1, 21)]},
    "index_churn": {"sf": 0.1},
    # not in BENCHMARK.json: a run takes about 3.5 minutes (see README),
    # past the 180 s a listed workload has
    "operator_head": {"sf": 0.1, "deadline_s": 600, "queries": [
        "q82_", "q157_", "q313_", "q316_", "q336_", "q341_", "q343_"]},
}
# the result line's metric sets (BENCHMARK.json's end_to_end / per_layer)
END_TO_END = ["setup_s", "ops_per_s", "heap_retained_mb"]
TRACE_KEYS = ["trace.ops_per_s_untraced", "trace.ops_per_s_traced",
              "trace.overhead_frac"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def ensure_data(build_dir, sf):
    d = build_dir / "data" / f"sf{sf}-seed{DATA_SEED}"
    if not (d / "_done").is_file():
        tmp = d.with_name(d.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        gen.tables(str(tmp), sf, DATA_SEED)
        (tmp / "_done").write_text("")
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d


def read_tsv(path, cols, types):
    rows = []
    if not path.is_file():
        return rows
    for line in path.read_text().splitlines():
        if line:
            rows.append({c: t(v) for c, t, v in zip(cols, types, line.split("\t"))})
    return rows


def read_snapshots(path):
    snaps = {}
    if path.is_file():
        for line in path.read_text().splitlines():
            label, p, size = line.split("\t")
            snaps.setdefault(label, {})[p] = int(size)
    return snaps


def expected_views(fixture_dir, updates):
    """Replay ``updates`` ((postId, delta) pairs) on the fixture's views,
    clamping each update at zero as the reference does. Returns the
    total and the number of updates that hit an existing post."""
    views = {}
    with open(fixture_dir / "posts.csv") as f:
        next(f)
        for line in f:
            parts = line.rstrip("\n").split(",")
            views[int(parts[0])] = int(parts[3])
    applied = 0
    for pid, delta in updates:
        if pid in views:
            views[pid] = max(0, views[pid] + delta)
            applied += 1
    return sum(views.values()), applied


def executed_updates(plan_path, meta):
    """(postId, delta) of every update the run executed, in order."""
    out = []
    for section, cycles in gen.plan_sections(plan_path).items():
        for cycle in cycles[:meta.get(f"{section}.cycles_done", 0)]:
            for line in cycle:
                tok = line.split(" ")
                if tok[1] == "update":
                    out.append((int(tok[2]), int(tok[3])))
    return out


def launch(cmd, env, log, timeout):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1, timeout))
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def run_one(args, build_dir, t_start):
    spec = WORKLOADS[args.workload]
    try:
        classes = build.ensure(build_dir)
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        fail(f"build failed: {e}")
    data = ensure_data(build_dir, spec["sf"])
    t_ready = time.time()
    run = build_dir / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    private = {k: run / k for k in ("tmp", "local", "artifacts", "out")}
    for p in private.values():
        p.mkdir(parents=True)
        if any(p.iterdir()):
            fail(f"run-private dir {p} is not empty")
    out = private["out"]
    jvm_args = ["--workload", args.workload, "--data", str(data),
                "--run", str(run), "--out", str(out),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--seed", str(args.seed)]
    plan_path = run / "plan.txt"
    fixture_dir = run / "fixture"
    if args.workload == "index_churn":
        names = gen.fixture(str(fixture_dir), args.seed)
        gen.churn_plan(str(plan_path), args.seed, names)
        jvm_args += ["--plan", str(plan_path), "--fixture", str(fixture_dir)]
    else:
        jvm_args += ["--queries", ",".join(spec["queries"])]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_LOCAL_DIRS=str(private["local"]))
    jars = build.spark_jars()
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-XX:-UsePerfData", f"-Xmx{XMX}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={private['tmp']}",
              f"-Dgraft.artifacts.root={private['artifacts']}",
              "-cp", f"{classes}:{jars}/*", "perfbench.Main"] + jvm_args)
    log = build_dir / "reports" / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    try:
        deadline = spec.get("deadline_s", DEADLINE_S)
        try:
            code = launch(cmd, env, log, deadline - (time.time() - t_ready))
        except subprocess.TimeoutExpired:
            fail(f"JVM did not finish within {deadline} s; log: {log}")
        if code != 0:
            tail = log.read_text()[-3000:]
            fail(f"JVM exited {code}; log tail:\n{tail}")
        report = evaluate(args, data, out, fixture_dir, plan_path)
        if args.trace:
            keep = log.with_suffix(".trace")
            shutil.rmtree(keep, ignore_errors=True)
            keep.mkdir()
            for f in ("spans.tsv", "jobs.tsv", "tasks.tsv", "ops.tsv"):
                if (out / f).is_file():
                    shutil.copy(out / f, keep / f)
    finally:
        shutil.rmtree(run, ignore_errors=True)
    report["provenance"] = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cpus(), "xmx": XMX,
        "spark_version": report.pop("_spark_version"),
        "commit": commit(), "source_digest": (build_dir / "classes.stamp").read_text(),
        "data": f"sf{spec['sf']} seed {DATA_SEED}",
        "wall_s": round(time.time() - t_start, 3)}
    log.with_suffix(".json").write_text(json.dumps(report, indent=1) + "\n")
    return report


def evaluate(args, data, out, fixture_dir, plan_path):
    meta = json.loads((out / "meta.json").read_text())
    ops = read_tsv(out / "ops.tsv",
                   ["id", "window", "kind", "name", "start", "end", "ok"],
                   [int, str, str, str, float, float, lambda v: v == "1"])
    for o in ops:
        o["ms"] = o["end"] - o["start"]
    snaps = read_snapshots(out / "files.tsv")
    checks = {}
    window_ops = [o for o in ops if o["window"] == "untraced"]
    failed = sum(1 for o in window_ops if not o["ok"])
    failed += sum(1 for o in ops if o["window"] == "setup" and not o["ok"])
    if args.workload == "index_churn":
        want_total, want_applied = expected_views(
            fixture_dir, executed_updates(plan_path, meta))
        checks["views_total"] = meta["views_total"] == want_total
        checks["updates_applied"] = meta.get("updates_applied", 0) == want_applied
        checks["no_dangling_engagements"] = meta["dangling"] == 0
        for f in metrics.FAMILIES:
            checks[f"{f}_probe_equals_fresh_publish"] = meta[f"check.{f}.match"]
        failed += sum(1 for v in checks.values() if not v)
    else:
        bad = oracle.check(str(data), str(out / "results"),
                           str(out / "oracle_sql.json"), [
                               o["name"] for o in ops if o["window"] == "setup"])
        for name, msgs in bad.items():
            checks[name] = not msgs
            if msgs:
                print(f"perfbench: {name} differs from its oracle: {msgs}",
                      file=sys.stderr)
        failed += sum(1 for o in window_ops if bad.get(o["name"]))
    attempted = max(1, len(window_ops))
    failed = min(failed, attempted)
    e2e = metrics.end_to_end(ops, meta)
    e2e["failed_ops_frac"] = (failed / attempted, "ratio")
    if args.workload == "index_churn":
        created, on_disk, fresh = metrics.churn_amplification(snaps)
        e2e["write_amp"] = (metrics.ratio(created, meta["untraced.user_bytes"]), "ratio")
        e2e["space_amp"] = (metrics.ratio(on_disk, fresh), "ratio")
    report = {"correct": all(checks.values()) and failed == 0,
              "attempted": attempted, "failed": failed, "checks": checks,
              "samples": len([o for o in window_ops if o["ok"]]),
              "ops": [[o["window"], o["name"], round(o["ms"], 3), o["ok"]]
                      for o in ops],
              "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
              "_spark_version": meta.get("spark_version")}
    if args.trace:
        spans = read_tsv(out / "spans.tsv",
                         ["id", "parent", "op", "name", "start", "end"],
                         [int, int, int, str, float, float])
        jobs = read_tsv(out / "jobs.tsv", ["id", "submit", "end", "span"],
                        [int, float, float, int])
        tasks = read_tsv(out / "tasks.tsv",
                         ["job", "stage", "launch", "finish", "run", "wait",
                          "input", "shr", "shw", "spill"], [int] * 10)
        layer = metrics.per_layer(ops, spans, jobs, tasks, meta, snaps, cpus())
        def rate(window):
            n = len([o for o in ops if o["window"] == window and o["ok"]])
            return metrics.ratio(n, meta[f"{window}.wall_s"])
        untraced = (rate("untraced") + rate("after")) / 2
        traced = rate("traced")
        layer["trace.ops_per_s_untraced"] = (untraced, "1/s")
        layer["trace.ops_per_s_traced"] = (traced, "1/s")
        layer["trace.overhead_frac"] = (metrics.ratio(untraced - traced, untraced), "ratio")
        report["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    return report


def result_line(report, trace):
    if trace:
        chosen = report["per_layer"]
    else:
        chosen = {k: report["end_to_end"][k] for k in END_TO_END}
    return {"correct": report["correct"], "attempted": report["attempted"],
            "failed": report["failed"], "metrics": chosen}


def run_all(args):
    """Every workload for one seed, each in its own process."""
    lines, ok = [], True
    for wl in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", wl, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        out = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        if proc.returncode not in (0, 1) or len(out) < 2:
            fail(f"{wl} failed with exit code {proc.returncode}")
        print(out[-2])
        lines.append((wl, json.loads(out[-1])))
        ok = ok and proc.returncode == 0
    print(json.dumps({
        "correct": all(r["correct"] for _, r in lines),
        "attempted": sum(r["attempted"] for _, r in lines),
        "failed": sum(r["failed"] for _, r in lines),
        "metrics": {f"{wl}.{k}": v for wl, r in lines
                    for k, v in r["metrics"].items()}}))
    return 0 if ok else 1


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS) + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    t_start = time.time()
    if not (REPO / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {REPO / 'src'}; run from a graft checkout")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    if args.workload == "all":
        return run_all(args)
    build_dir = Path(os.environ.get("CARGO_TARGET_DIR") or REPO / ".bench_build")
    if not build_dir.is_absolute():
        build_dir = REPO / build_dir
    report = run_one(args, build_dir, t_start)
    print(json.dumps({k: v for k, v in report.items() if k != "ops"}))
    print(json.dumps(result_line(report, args.trace)))
    return 0 if report["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
