"""graft benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark's JVM harness from source (see
build.py), takes the workload's inputs (the registry reads the committed
scale-0.01 tables in data/sf0.01 and the seed permutes its key order;
the seed generates the visit loop's catalog), runs the
workload in one JVM as a closed loop with one caller, checks every
operation's output, and prints one JSON line as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics; with --trace 1 the per-layer
metrics of a traced run, whose span tree is written to
<build>/traces/<workload>-seed<n>.json. A per-run record with the
host calibration stamps goes to <build>/records/.

Exit codes: 0 with a result line; 2 when the program cannot be built or
run (no result line is printed).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 170
# the scale-0.01 tables (seed 42) that scripts/check.py's oracle compare runs on
DATA = os.path.join(HERE, "data", "sf0.01")

WORKLOADS = {
    "registry_sf0.01": {"jvm": "registry", "keys": os.path.join(HERE, "keys", "registry.txt"),
                        "expected": os.path.join(HERE, "expected", "registry.json"),
                        "warmup": 2},
    "visit_loop": {"jvm": "visit_loop", "catalog": 200_000, "warmup": 3},
}


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def read_lines(path):
    with open(path) as f:
        return [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]


def steal_s():
    """Hypervisor steal time of all CPUs since boot (Linux /proc/stat),
    or None where the kernel does not report it."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(cp, args, work):
    cmd = (["java", "-Xmx4g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-cp", cp]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in build.ADD_OPENS]
           + ["graftbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"JVM timed out after {JVM_TIMEOUT_S} s; log: {log_path}")
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"JVM exited with {rc}; log tail:\n{tail}")


def checked_data(path):
    """The input table dir, after every file listed in its SHA256SUMS
    has been found with that digest."""
    sums = os.path.join(path, "SHA256SUMS")
    if not os.path.exists(sums):
        fail(f"input tables missing: {os.path.relpath(path)}")
    for digest, name in (ln.split() for ln in read_lines(sums)):
        try:
            with open(os.path.join(path, name), "rb") as f:
                ok = hashlib.sha256(f.read()).hexdigest() == digest
        except OSError:
            ok = False
        if not ok:
            fail(f"input table {name} is missing or changed")
    return path


def load_records(path):
    out = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            out.setdefault(r["kind"], []).append(r)
    return out


# ---------------------------------------------------------------- checks

def check_keys(ops, expected):
    """Marks each key op wrong when its row count differs from the
    committed expectation."""
    for op in ops:
        want = expected.get(op["name"])
        if op["ok"] and want is not None and op["rows"] != want:
            op["ok"] = False
            op["error"] = f"rows {op['rows']} != expected {want}"
        elif op["ok"] and want is None:
            op["ok"] = False
            op["error"] = "no expected row count committed"


def check_visits(rec):
    """Per-visit count checks and the exactly-once invariants. A visit
    whose counts disagree fails; a store-wide invariant that fails
    fails the night job, the operation after which it is read."""
    checks = {c["visit"]: c for c in rec.get("visit_check", [])}
    problems = []
    for op in rec.get("op", []):
        if op["type"] != "visit" or not op["ok"]:
            continue
        c = checks.get(op["visit"])
        if c is None:
            bad = "no stored-count check"
        else:
            bad = "; ".join(
                f"{a} {c[a]} != {b} {c[b]}"
                for a, b in (("stored_sources", "n_sources"),
                             ("stored_forced", "n_forced"),
                             ("generated_sources", "n_sources"))
                if c[a] != c[b])
        if bad:
            op["ok"] = False
            op["error"] = bad
    for c in checks.values():  # warm-up visits are part of the store too
        if (c["stored_sources"], c["stored_forced"], c["generated_sources"]) != \
                (c["n_sources"], c["n_forced"], c["n_sources"]):
            problems.append(f"visit {c['visit']} stored counts disagree")
    s = rec["store"][0]
    for a, b in (("sources", "sum_n_sources"), ("forced", "sum_n_forced"),
                 ("versions", "sum_n_sources"), ("objects_last", "distinct_object_ids")):
        if s[a] != s[b]:
            problems.append(f"{a} {s[a]} != {b} {s[b]}")
    if s["visits_stored"] != len(checks):
        problems.append("visit checks missing")
    if problems:
        for op in rec["op"]:
            if op["type"] == "night":
                op["ok"] = False
                op["error"] = "; ".join(problems)
    return problems


# --------------------------------------------------------------- metrics

def wall_s(op):
    return (op["end_ms"] - op["start_ms"]) / 1000.0


def split_ms(op):
    """End of the construct part of a key run (its end if it threw there)."""
    return op["end_ms"] if op.get("split_ms") is None else op["split_ms"]


def passes(workload, ops):
    """Timed passes as lists of ops: one sweep of the key set, or, for
    visit_loop, each complete cycle of the three survey fields."""
    if workload == "visit_loop":
        visits = [o for o in ops if o["type"] == "visit"]
        return [visits[i:i + 3] for i in range(0, len(visits) - 2, 3)]
    by = {}
    for o in ops:
        by.setdefault(o["pass"], []).append(o)
    return [by[k] for k in sorted(by)]


def latencies(workload, ops):
    """The latencies op_p50_s is the median of: one value per key (its
    median over passes), or one per visit."""
    if workload == "visit_loop":
        return [wall_s(o) for o in ops if o["type"] == "visit"]
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(wall_s(o))
    return [stats.median(v) for v in by.values()]


def end_to_end(workload, ops, setup_s):
    """sweep_s is one pass as its operations' typical times add up: the
    sum of each key's median latency, or three times the median visit
    (a cycle of the three fields), so one slow call does not set it. The
    passes' own wall times go into the record."""
    lat = latencies(workload, ops)
    walls = [(max(o["end_ms"] for o in ps) - min(o["start_ms"] for o in ps)) / 1000.0
             for ps in passes(workload, ops)]
    sweep = 3 * stats.median(lat) if workload == "visit_loop" else sum(lat)
    return {
        "setup_s": (setup_s, "s"),
        "sweep_s": (sweep, "s"),
        "op_p50_s": (stats.median(lat), "s"),
    }, {"operations": len(ops), "passes": len(walls), "pass_walls_s": walls}


PER_LAYER = [
    # graft.queries
    ("queries.construct_s", "s"), ("queries.action_s", "s"),
    ("queries.core_s", "s"), ("queries.geo_s", "s"), ("queries.dedup_s", "s"),
    ("queries.text_s", "s"), ("queries.mining_s", "s"),
    # Spark runtime
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_overhead_s", "s"), ("spark.driver_gap_s", "s"),
    ("spark.task_s", "s"), ("spark.slot_util", "ratio"),
    ("spark.stage_skew_p90", "ratio"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"),
    ("spark.agg_rows_in_per_out", "ratio"), ("spark.failed_tasks", "count"),
    # graft.apdb
    ("apdb.detect_s", "s"), ("apdb.read_obj_s", "s"), ("apdb.read_src_s", "s"),
    ("apdb.read_fsrc_s", "s"), ("apdb.store_s", "s"), ("apdb.insert_append_s", "s"),
    ("apdb.insert_chunks_s", "s"), ("apdb.merge_objlast_s", "s"),
    ("apdb.visit_other_s", "s"), ("apdb.files_written", "count"),
    ("apdb.objects_read", "count"), ("apdb.filter_keep_frac", "ratio"),
    ("apdb.select_queries", "count"), ("apdb.rows_stored", "count"),
    ("apdb.store_bytes_per_row", "B/row"),
    # maintenance
    ("maint.nightly_s", "s"), ("maint.files_after", "count"),
    # JVM
    ("jvm.gc_s", "s"), ("jvm.peak_heap_mb", "MB"),
    # run-level
    ("op_tail_s", "s"), ("op_tail_pct", "%"), ("fail_frac", "ratio"),
    ("trace_overhead_frac", "ratio"),
    ("host.calib_serial_before_s", "s"), ("host.calib_serial_after_s", "s"),
    ("host.calib_parallel_before_s", "s"), ("host.calib_parallel_after_s", "s"),
    ("host.steal_s", "s"),
]


def build_spans(workload, seed, rec, ops, phases):
    """Span tree: run -> operation -> construct/action or visit phase ->
    Spark job -> stage. Every span carries the run's id."""
    run_id = f"{workload}-seed{seed}-{int(time.time() * 1000)}"
    spans = []

    def add(name, kind, parent, s, e, **kw):
        sid = len(spans) + 1
        spans.append(dict(id=sid, parent=parent, name=name, kind=kind,
                          start_ms=s, end_ms=e, run_id=run_id, **kw))
        return sid

    traced = [o for o in rec.get("op", []) if o["traced"]]
    jobs = rec.get("job", [])
    if not traced:
        return run_id, spans
    root = add(workload, "run", None, min(o["start_ms"] for o in traced),
               max(o["end_ms"] for o in traced))
    by_group = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    for o in traced:
        oid = add(o["name"], "operation", root, o["start_ms"], o["end_ms"], ok=o["ok"])
        parents = [(o["start_ms"], o["end_ms"], oid)]
        if o["type"] == "key":
            c = add("construct", "construct", oid, o["start_ms"], split_ms(o))
            a = add("action", "action", oid, split_ms(o), o["end_ms"])
            parents = [(o["start_ms"], split_ms(o), c), (split_ms(o), o["end_ms"], a)]
        elif o["type"] == "visit" and o["visit"] in phases:
            ids = {}
            for name, parent, s, e in stats.phase_spans(phases[o["visit"]], o["start_ms"]):
                ids[name] = add(name, "phase", ids.get(parent, oid), s, e, laid_out=True)
        for j in by_group.get(o["group"], []):
            end = j["end_ms"] if j["end_ms"] >= 0 else o["end_ms"]
            parent = next((p for s, e, p in parents if s <= j["start_ms"] < e), oid)
            jid = add(f"job {j['job']}", "job", parent, j["start_ms"], end, ok=j["ok"])
            for st in j["stages"]:
                add(f"stage {st['id']}", "stage", jid, st["start_ms"], st["end_ms"],
                    tasks=st["tasks"])
    stats.add_self_times(spans)
    return run_id, spans


def per_layer(workload, rec, ops, phases, cores):
    m = {name: 0.0 for name, _ in PER_LAYER}
    traced = [o for o in ops if o["traced"] and o["type"] in ("key", "visit")]
    untraced = [o for o in ops if not o["traced"] and o["type"] in ("key", "visit")]
    per_pass = (3 if workload == "visit_loop" else len({o["name"] for o in ops}))
    f = per_pass / max(1, len(traced))
    groups = {o["group"] for o in traced}
    jobs = [j for j in rec.get("job", []) if j["group"] in groups]
    stages = [s for j in jobs for s in j["stages"]]

    if workload != "visit_loop":
        m["queries.construct_s"] = f * sum((split_ms(o) - o["start_ms"]) / 1000 for o in traced)
        m["queries.action_s"] = f * sum((o["end_ms"] - split_ms(o)) / 1000 for o in traced)
        for mod in ("core", "geo", "dedup", "text", "mining"):
            m[f"queries.{mod}_s"] = f * sum(wall_s(o) for o in traced if o["module"] == mod)

    m["spark.jobs"] = f * len(jobs)
    m["spark.stages"] = f * len(stages)
    m["spark.tasks"] = f * sum(s["tasks"] for s in stages)
    m["spark.task_overhead_s"] = f * sum(s["overhead_ms"] for s in stages) / 1000
    m["spark.task_s"] = f * sum(s["task_ms"] for s in stages) / 1000
    by_group = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(
            (j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else j["start_ms"]))
    gap = sum(wall_s(o) - stats.union_length(by_group.get(o["group"], []),
                                             o["start_ms"], o["end_ms"]) / 1000
              for o in traced)
    m["spark.driver_gap_s"] = f * gap
    wall = sum(wall_s(o) for o in traced)
    m["spark.slot_util"] = (sum(s["task_ms"] for s in stages) / 1000) / max(1e-9, wall * cores)
    skews = [s["task_max_ms"] / s["task_median_ms"] for s in stages
             if s["tasks"] >= 2 and s["task_median_ms"] > 0]
    m["spark.stage_skew_p90"] = stats.percentile(skews, 90) if skews else 0.0
    mib = 1048576.0
    m["spark.shuffle_write_mb"] = f * sum(s["shuffle_write_b"] for s in stages) / mib
    m["spark.shuffle_read_mb"] = f * sum(s["shuffle_read_b"] for s in stages) / mib
    m["spark.spill_mb"] = f * sum(s["spill_b"] for s in stages) / mib
    aggs = [a for a in rec.get("agg", []) if a["group"] in groups]
    rows_out = sum(a["rows_out"] for a in aggs)
    m["spark.agg_rows_in_per_out"] = sum(a["rows_in"] for a in aggs) / rows_out if rows_out else 0.0
    m["spark.failed_tasks"] = float(sum(s["failed_tasks"] for j in rec.get("job", [])
                                        for s in j["stages"]))

    if workload == "visit_loop":
        tv = [o for o in traced if o["visit"] in phases]
        fv = 3 / max(1, len(tv))
        for key in ("detect_s", "read_obj_s", "read_src_s", "read_fsrc_s", "store_s",
                    "insert_append_s", "insert_chunks_s", "merge_objlast_s"):
            m["apdb." + key] = fv * sum(phases[o["visit"]][key] for o in tv)
        m["apdb.visit_other_s"] = fv * sum(phases[o["visit"]]["other_s"] for o in tv)
        files = {c["visit"]: c["files_written"] for c in rec.get("visit_files", [])}
        m["apdb.files_written"] = fv * sum(files.get(o["visit"], 0) for o in tv)
        read = sum(phases[o["visit"]]["objects_read"] for o in tv)
        m["apdb.objects_read"] = fv * read
        m["apdb.filter_keep_frac"] = (sum(phases[o["visit"]]["objects_filtered"] for o in tv)
                                      / read) if read else 0.0
        m["apdb.select_queries"] = fv * sum(phases[o["visit"]]["select_queries"] for o in tv)
        m["apdb.rows_stored"] = fv * sum(phases[o["visit"]]["rows_stored"] for o in tv)
        s = rec["store"][0]
        m["apdb.store_bytes_per_row"] = s["data_bytes"] / max(1, s["versions"] + s["sources"] + s["forced"])
        night = [o for o in ops if o["type"] == "night"]
        m["maint.nightly_s"] = wall_s(night[0]) if night else 0.0
        m["maint.files_after"] = float(s["files_after"])

    lat = [wall_s(o) for o in traced + untraced]
    p = stats.tail_percentile(len(lat))
    m["op_tail_s"] = stats.percentile(lat, p) if p else 0.0
    m["op_tail_pct"] = float(p or 0)
    m["jvm.gc_s"] = f * sum(o["gc_s"] for o in traced)
    m["jvm.peak_heap_mb"] = rec["jvm"][0]["peak_heap_mb"]
    m["fail_frac"] = sum(1 for o in ops if not o["ok"]) / max(1, len(ops))
    if workload == "visit_loop" and traced and untraced:
        m["trace_overhead_frac"] = (stats.median([wall_s(o) for o in traced])
                                    / stats.median([wall_s(o) for o in untraced]) - 1.0)
    elif traced and untraced:  # per key: its traced call against its untraced one
        plain = {o["name"]: wall_s(o) for o in untraced}
        ratios = [wall_s(o) / plain[o["name"]] for o in traced if o["name"] in plain]
        m["trace_overhead_frac"] = stats.median(ratios) - 1.0 if ratios else 0.0
    for c in rec.get("calibration", []):
        m[f"host.calib_serial_{c['when']}_s"] = c["serial_s"]
        m[f"host.calib_parallel_{c['when']}_s"] = c["parallel_s"]
    return m


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]

    try:
        cp = build.build()
    except build.BuildError as e:
        fail(str(e))

    out_root = build.build_dir()
    work = os.path.join(out_root, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    records = os.path.join(work, "records.jsonl")
    jargs = ["--workload", wl["jvm"],
             "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--work", work, "--out", records]

    expected = {}
    if "keys" in wl:
        data = checked_data(DATA)
        keys = read_lines(wl["keys"])
        with open(wl["expected"]) as f:
            expected = json.load(f)
        jargs += ["--data", data, "--keys", ",".join(keys)]
    else:
        jargs += ["--catalog", str(wl["catalog"])]
    jargs += ["--warmup", str(wl["warmup"])]

    steal0 = steal_s()
    run_jvm(cp, jargs, work)
    steal1 = steal_s()
    rec = load_records(records)
    ops = rec.get("op", [])
    if not ops:
        fail("the run recorded no operations")
    if "keys" in wl:
        check_keys(ops, expected)
    else:
        check_visits(rec)

    cores = rec["meta"][0]["cores"]
    setup_s = rec["setup"][0]["setup_s"]
    timed = [o for o in ops if o["type"] in ("key", "visit")]
    failed = [o for o in ops if not o["ok"]]
    info = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "calibration": rec.get("calibration", []), "session": rec["meta"][0]["session"],
            "host_steal_s": None if steal0 is None or steal1 is None else steal1 - steal0,
            "failed_ops": [(o["name"], o.get("error")) for o in failed]}

    if a.trace == 0:
        e2e, extra = end_to_end(a.workload, timed, setup_s)
        info.update(extra)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        phases = {}
        mlog = rec["store"][0]["metrics_log"] if rec.get("store") else None
        if mlog and os.path.exists(mlog):
            with open(mlog) as f:
                phases = {v: stats.visit_phases(r)
                          for v, r in stats.parse_metrics_log(f).items()}
        vals = per_layer(a.workload, rec, ops, phases, cores)
        vals["host.steal_s"] = info["host_steal_s"] or 0.0
        units = dict(PER_LAYER)
        metrics = {k: {"value": vals[k], "unit": units[k]} for k, _ in PER_LAYER}
        run_id, spans = build_spans(a.workload, a.seed, rec, ops, phases)
        tdir = os.path.join(out_root, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"run_id": run_id, "spans": spans}, f)
        info["spans"] = len(spans)

    rdir = os.path.join(out_root, "records")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"info": info, "metrics": metrics}, f, indent=1)
    print(json.dumps(info), file=sys.stderr)
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
