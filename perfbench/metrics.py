"""The benchmark's arithmetic: percentiles, span self time, job
attribution, file-listing byte counts, and the metric sets built from a
run's raw samples (see ``src/perfbench/Main.scala`` for the raw files).
"""
import math
import statistics

MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def tail_percentile(xs, q, min_beyond=MIN_BEYOND):
    """Nearest-rank ``q`` percentile of ``xs`` (0 < q < 1), or None when
    fewer than ``min_beyond`` samples lie beyond it."""
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < min_beyond:
        return None
    return sorted(xs)[rank - 1]


def self_times(spans):
    """``spans``: dicts with id, parent, start, end. Returns id -> the
    span's duration minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def innermost_span(spans, t):
    """The id of the latest-starting span whose [start, end] holds
    time ``t`` (spans of one thread nest, so that is the innermost),
    or None."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"]:
            if best is None or s["start"] >= best["start"]:
                best = s
    return best["id"] if best else None


def created_bytes(snapshots, prefix=""):
    """``snapshots``: ordered list of {path: size}. Bytes of files that
    each snapshot shows as new (absent before, or with a new size) —
    files a later op deletes still count once. Only paths starting with
    ``prefix`` count."""
    total = 0
    for prev, cur in zip(snapshots, snapshots[1:]):
        for p, size in cur.items():
            if p.startswith(prefix) and prev.get(p) != size:
                total += size
    return total


def disk_bytes(snapshot, prefix=""):
    return sum(s for p, s in snapshot.items() if p.startswith(prefix))


def new_versions(snapshots, prefix):
    """Distinct version entries (``<t>.csv.vN``, ``<t>.csv.vN.dM``,
    ``_manifest.mN``) first seen under ``prefix`` across ``snapshots``."""
    def names(snap):
        out = set()
        for p in snap:
            if not p.startswith(prefix):
                continue
            top = p[len(prefix):].split("/")[0]
            if ".csv.v" in top or top.startswith("_manifest.m"):
                out.add(top)
        return out
    seen = names(snapshots[0]) if snapshots else set()
    minted = 0
    for snap in snapshots[1:]:
        cur = names(snap)
        minted += len(cur - seen)
        seen |= cur
    return minted


def ratio(num, den):
    return num / den if den else 0.0


# ------------------------------------------------------------- end to end

def end_to_end(ops, meta):
    """Every end-to-end metric of the untraced window: {name: (value, unit)}."""
    win = [o for o in ops if o["window"] == "untraced"]
    lat = [o["ms"] for o in win if o["ok"]]
    m = {}
    rounds = meta["setup_rounds_s"]
    m["setup_s"] = (meta["session_s"] + median(rounds), "s")
    wall = meta["untraced.wall_s"]
    m["ops_per_s"] = (ratio(len(lat), wall), "1/s")
    m["op_p50_ms"] = (median(lat), "ms")
    p90 = tail_percentile(lat, 0.9)
    if p90 is not None:
        m["op_p90_ms"] = (p90, "ms")
    for kind in ("read", "write"):
        xs = [o["ms"] for o in win if o["ok"] and o["kind"] == kind]
        if xs:
            m[f"{kind}_p50_ms"] = (median(xs), "ms")
            p = tail_percentile(xs, 0.9)
            if p is not None:
                m[f"{kind}_p90_ms"] = (p, "ms")
    m["heap_retained_mb"] = (meta["heap_retained_mb"], "MB")
    return m


def churn_amplification(snaps):
    """(bytes created in the untraced window, bytes on disk at the end,
    bytes of the fresh write) of an index_churn run, from its listings."""
    order = [k for k in snaps if k.startswith("untraced.")]
    created = created_bytes([snaps[k] for k in order])
    return created, disk_bytes(snaps["end"]), disk_bytes(snaps["fresh"])


# ------------------------------------------------------------- per layer

FAMILIES = ("dedup", "sim", "lex", "graph", "sketch")
PRIMS = ("publish", "probe", "fold", "compact")
ENGINE_OPS = ("load", "comments", "by_location", "update_views", "append",
              "rename")


def per_layer(ops, spans, jobs, tasks, meta, snaps, cores):
    """Per-layer metrics of the traced window (publishes: of set-up).
    A job belongs to the span it names when that span was open at its
    submission, else to the innermost span open then."""
    win_ops = {o["id"] for o in ops if o["window"] == "traced"}
    n_ops = max(1, len(win_ops))
    selft = self_times(spans)
    span_by_id = {s["id"]: s for s in spans}

    def owner(j):
        s = span_by_id.get(j["span"])
        # a pool thread can carry a stale span id from when it started
        if s and s["start"] <= j["submit"] <= s["end"]:
            return s["id"]
        return innermost_span(spans, j["submit"])
    job_span = {j["id"]: owner(j) for j in jobs}
    job_op = {j: span_by_id[s]["op"] for j, s in job_span.items()
              if s is not None}
    jobs_in = {}
    for j, s in job_span.items():
        if s is not None:
            jobs_in[s] = jobs_in.get(s, 0) + 1

    def spans_named(name, traced_only=True):
        return [s for s in spans if s["name"] == name
                and (not traced_only or s["op"] in win_ops)]

    def mean_ms(name, traced_only=True):
        ss = spans_named(name, traced_only)
        return ratio(sum(selft[s["id"]] for s in ss), len(ss))

    def mean_jobs(name, traced_only=True):
        ss = spans_named(name, traced_only)
        return ratio(sum(jobs_in.get(s["id"], 0) for s in ss), len(ss))

    m = {}
    m["queries.build_ms"] = (mean_ms("queries.build"), "ms")
    m["queries.build_jobs"] = (mean_jobs("queries.build"), "count")
    m["plans.plan_ms"] = (mean_ms("plans.plan"), "ms")
    m["exec.ms"] = (mean_ms("exec"), "ms")
    m["exec.jobs"] = (mean_jobs("exec"), "count")

    win_tasks = [t for t in tasks if job_op.get(t["job"]) in win_ops]
    by_op = {}
    for t in win_tasks:
        by_op.setdefault(job_op[t["job"]], []).append(t)
    stages = {(job_op[t["job"]], t["stage"]) for t in win_tasks}
    busy = sum(t["run"] for t in win_tasks)
    m["spark.stages"] = (len(stages) / n_ops, "count")
    m["spark.tasks"] = (len(win_tasks) / n_ops, "count")
    m["spark.task_wait_ms"] = (sum(t["wait"] for t in win_tasks) / n_ops, "ms")
    m["spark.task_busy_ms"] = (busy / n_ops, "ms")
    # exec wall: the exec phase of queries, every layer call of index_churn
    exec_spans = spans_named("exec") or [
        s for s in spans if s["op"] in win_ops
        and (s["name"].startswith("index.") or s["name"].startswith("engine."))]
    exec_ids = {s["id"] for s in exec_spans}
    exec_busy = sum(t["run"] for t in win_tasks
                    if job_span.get(t["job"]) in exec_ids)
    exec_wall = sum(s["end"] - s["start"] for s in exec_spans)
    m["spark.core_util"] = (ratio(exec_busy, exec_wall * cores), "ratio")
    maxes = [max(t["finish"] - t["launch"] for t in ts) for ts in by_op.values()]
    m["spark.task_max_ms"] = (median(maxes) or 0.0, "ms")
    mb = 1048576.0
    for key, col in (("input_mb", "input"), ("shuffle_read_mb", "shr"),
                     ("shuffle_write_mb", "shw"), ("spill_mb", "spill")):
        m[f"spark.{key}"] = (sum(t[col] for t in win_tasks) / mb / n_ops, "MB")
    m["jvm.gc_ms"] = (meta["traced.gc_ms"] / n_ops, "ms")
    pubs, hits = meta["traced.publishes"], meta["traced.resolve_hits"]
    m["sources.publishes"] = (pubs / n_ops, "count")
    m["sources.resolve_hits"] = (hits / n_ops, "count")
    m["sources.hit_ratio"] = (ratio(hits, hits + pubs), "ratio")

    traced_snaps = [snaps[k] for k in snaps if k.startswith("traced.")]
    for f in FAMILIES:
        for p in PRIMS:
            name = f"index.{f}.{p}"
            # publishes happen in set-up: report the last set-up round's
            only_traced = p != "publish"
            m[f"{name}_ms"] = (mean_ms(name, only_traced), "ms")
            m[f"{name}_jobs"] = (mean_jobs(name, only_traced), "count")
        m[f"index.{f}.bytes_written"] = (
            created_bytes(traced_snaps, f + "/") / n_ops, "bytes")
    m["index.purge_cascade_ms"] = (mean_ms("index.purge_cascade"), "ms")
    m["index.purge_cascade_jobs"] = (mean_jobs("index.purge_cascade"), "count")
    for op in ENGINE_OPS:
        m[f"engine.{op}_ms"] = (mean_ms(f"engine.{op}"), "ms")
        m[f"engine.{op}_jobs"] = (mean_jobs(f"engine.{op}"), "count")
    m["engine.bytes_written"] = (
        created_bytes(traced_snaps, "engine/") / n_ops, "bytes")
    m["engine.versions_minted"] = (
        new_versions(traced_snaps, "engine/") / n_ops, "count")
    return m
