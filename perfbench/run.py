#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload op_sweep|meter_ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the harness from
source with sbt (once per source state, into .bench_build/), makes the
workload's inputs from the seed, brings up Spark at local[nproc] with
shuffle partitions = nproc, runs a fixed amount of timed work sized from S
(UNIT_SECONDS), checks every output, and prints two lines on stdout: a report (every
metric with unit and sample count, failures by name, run identity) and,
last, the result object {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
See perfbench/README.md for the workloads, metrics and protocol.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "3g"
JVM_TIMEOUT = 170

# op_sweep's corpus scale factor; meter_ingest makes CSV batches instead.
CORPUS_SF = 0.01
# Assumed meter traffic (no reference rates exist): one delivery per day,
# each anomaly kind 2% of a batch's fresh readings, and as many meters as
# keep one ingest cycle near UNIT_SECONDS["meter_ingest"] on 4 cores.
METER = {"meters": 24, "days_per_batch": 1, "anomaly_rate": 0.02}
# Timed work per run is fixed: the fewest units (a panel pass, a meter
# batch) that take at least --seconds on a 4-core host, by the time one
# unit takes there. A faster program finishes the same work sooner.
UNIT_SECONDS = {"op_sweep": 10.0, "meter_ingest": 5.0}

JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    return [f for f in files if os.path.isfile(f)]


def build():
    """Compile program + harness once per source state; returns the classpath."""
    if not glob.glob(os.path.join(ROOT, "src", "main", "scala", "graft", "*.scala")):
        sys.exit("perfbench: the program's sources (src/main/scala/graft) are not in this checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved.get("stamp") == stamp:
            return saved["classpath"], stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    log("building program and harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp, stamp


def inputs(workload, seed, units):
    """Generate (once per seed and size) the workload's inputs; meter_ingest
    also gets a small warm-up batch."""
    sys.path.insert(0, HERE)
    import gen
    base = os.path.join(BUILD, "data", workload, f"{seed}-{units}")
    done = os.path.join(base, "done")
    if not os.path.isfile(done):
        shutil.rmtree(base, ignore_errors=True)
        t0 = time.time()
        if workload == "meter_ingest":
            gen.write_meter_batches(os.path.join(base, "input"), seed, batches=units, **METER)
            gen.write_meter_batches(os.path.join(base, "warm"), seed + 1_000_003, batches=1,
                                    **dict(METER, meters=4))
        else:
            gen.write_corpus(os.path.join(base, "input"), CORPUS_SF, seed)
        open(done, "w").close()
        log(f"generated {workload} inputs for seed {seed} in {time.time() - t0:.1f}s")
    return os.path.join(base, "input"), os.path.join(base, "warm")


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


def jvm(cp, args, work, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
            "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + JDK17_OPENS + ["-cp", cp, "perfbench.Harness"] + args + ["--out", out])
    with open(os.path.join(work, "jvm.log"), "a") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=logf, cwd=work)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.default_int_handler)
    if rc != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-3000:])
        sys.exit(f"perfbench: harness JVM failed ({rc})")
    with open(out) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ checks

def _canon(v):
    """Canonical cell text; must match perfbench.Digest.cell in the harness."""
    import datetime as dt
    import struct
    from decimal import Decimal
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "i:1" if v else "i:0"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if v != v:
            return "d:nan"
        if v in (float("inf"), float("-inf")):
            return "d:" + format(struct.unpack("<Q", struct.pack("<d", v))[0], "x")
        if v == int(v) and abs(v) < 2 ** 53 and not (v == 0.0 and str(v).startswith("-")):
            return f"i:{int(v)}"
        return "d:" + format(struct.unpack("<Q", struct.pack("<d", v))[0], "x")
    if isinstance(v, Decimal):
        d = v.normalize()
        if d == 0 or d.as_tuple().exponent >= 0:
            return f"i:{int(d)}"
        return "m:" + format(d, "f")
    if isinstance(v, str):
        return f"s:{len(v.encode())}:{v}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return f"t:{(v - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)}"
    if isinstance(v, dt.date):
        return f"D:{(v - dt.date(1970, 1, 1)).days}"
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + "".join(_canon(x) + "," for x in v) + "]"
    if isinstance(v, dict):
        return "(" + "".join(_canon(x) + "," for x in v.values()) + ")"
    return f"?:{v}"


def oracle_digest(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    n, h = 0, 0
    for row in cur.fetchall():
        text = "".join(_canon(row[i]) + "|" for i in order)
        h += int.from_bytes(hashlib.md5(text.encode()).digest()[:8], "little")
        n += 1
    return n, h % (1 << 64)


def check_ops(res, data):
    """Each op's check-pass digest and each timed call's digest vs the
    op's DuckDB oracle digest. Marks the calls whose output is wrong
    (c["bad"]) and returns the problems, by op."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in ("region nation customer supplier part orders lineitem events documents "
              "embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    want = {}
    for op in sorted(res["digests"]):
        sql = res["oracles"].get(op)
        try:  # an oracle that DuckDB cannot run is a check failure
            want[op] = oracle_digest(con, sql) if sql else "no oracle"
        except Exception as e:
            want[op] = f"oracle error: {e}"

    def verdict(op, d):
        if "error" in d:
            return d["error"]
        w = want.get(op, "no oracle")
        if isinstance(w, str):
            return w
        if w[0] != d["rows"] or str(w[1]) != d["hash"]:
            return f"digest mismatch: spark rows={d['rows']} oracle rows={w[0]}"
        return None

    bad = {}
    for op, d in sorted(res["digests"].items()):
        why = verdict(op, d)
        if why:
            bad[op] = f"check pass: {why}"
    for c in res["calls"]:
        if c["error"]:
            continue
        why = verdict(c["op"], c.get("digest", {"error": "not digested"}))
        if why:
            c["bad"] = True
            bad.setdefault(c["op"], f"pass {c['pass']}: {why}")
    return bad


def check_meter(res, model):
    """Pipeline summaries, per-version table state and feed sizes vs the
    model. Marks the calls whose output is wrong (c["bad"]) and returns
    {(batch, call op): problem}."""
    from decimal import Decimal
    bad = {}
    for s in res["summaries"]:
        m = model[s["batch"]]
        got = {k: s[k] for k in ("ingested", "quarantined", "deduped", "loaded")}
        want = {k: m[k] for k in got}
        if got != want:
            bad[(s["batch"], "pipeline.run")] = f"summary {got} != {want}"
    for v in res["versions"]:
        want = model[v["batch"]]["table"]
        got = v["state"]
        if int(got[0]) != want[0] or int(got[1]) != int(want[1]) or Decimal(got[2]) != Decimal(want[2]):
            bad[(v["batch"], f"snapshot.{v['kind']}")] = f"version {v['version']} state {got} != {want}"
        if "feed_rows" in v:
            want_feed = model[v["batch"]]["upserts"] + model[v["batch"]]["deletes"]
            if v["feed_rows"] != want_feed:
                bad[(v["batch"], "snapshot.changeFeed")] = \
                    f"version {v['version']} change feed rows {v['feed_rows']} != {want_feed}"
    for c in res["calls"]:
        if (c["pass"], c["op"]) in bad:
            c["bad"] = True
    return bad


# ----------------------------------------------------------------- metrics

def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def metric(value, unit, n):
    return {"value": value, "unit": unit, "n": n}


def end_to_end(workload, res):
    calls = [c for c in res["calls"] if not c["error"] and not c.get("bad")]
    walls = [c["wall_s"] for c in calls]
    m = {"setup_s": metric(res["setup"]["setup_s"], "s", 1),
         "wall_s": metric(res["timed_s"], "s", len(res["calls"])),
         "call_p50_s": metric(pct(walls, 0.5), "s", len(walls)),
         "call_max_s": metric(max(walls, default=0.0), "s", len(walls)),
         "heap_used_mb": metric(res["heap_used_mb"], "MiB", 1),
         "cache_retained_mb": metric(res["cache_retained_mb"], "MiB", 1)}
    if workload == "meter_ingest":
        merges = [c["wall_s"] for c in calls if c["kind"] == "merge"]
        reads = [c["wall_s"] for c in calls if c["kind"] == "read"]
        raw = res["raw_bytes"]
        m.update({
            "merge_p50_s": metric(pct(merges, 0.5), "s", len(merges)),
            "read_p50_s": metric(pct(reads, 0.5), "s", len(reads)),
            "write_amp": metric(sum(res["bytes_written"].values()) / raw, "ratio", 1),
            "space_amp": metric(res["bytes_on_disk"] / res["bytes_referenced"], "ratio", 1)})
    return m


def per_layer(res, trace, e2e):
    calls = res["calls"]
    tc = trace["calls"]
    n = max(1, len(tc))

    def mean(key, rows=tc):
        return sum(r[key] for r in rows) / max(1, len(rows))

    def phase_mean(name, kinds=None):
        rows = [c for c in calls if kinds is None or c["kind"] in kinds]
        return sum(c["phases"].get(name, 0.0) for c in rows) / max(1, len(rows))

    def call_mean(key):
        return sum(c.get(key, 0.0) for c in calls) / max(1, len(calls))

    action_s = sum(r["action_s"] for r in tc)
    action_jobs = sum(r["action_jobs"] for r in tc)
    storage = [c.get("storage", {}) for c in calls]
    summed_wall = sum(r["wall_s"] for r in tc)
    m = {
        "tables.load_s": phase_mean("tables.load"),
        "ops.build_s": phase_mean("ops.build"),
        "ops.build_jobs": sum(r["jobs_by_phase"].get("ops.build", 0) for r in tc) / n,
        "catalyst.analysis_s": call_mean("catalyst.analysis_s"),
        "catalyst.optimization_s": call_mean("catalyst.optimization_s"),
        "catalyst.planning_s": call_mean("catalyst.planning_s"),
        "catalyst.plan_s": phase_mean("catalyst.plan"),
        "exec.action_s": phase_mean("exec.action"),
        "exec.jobs": mean("jobs"), "exec.stages": mean("stages"), "exec.tasks": mean("tasks"),
        "exec.per_job_s": action_s / action_jobs if action_jobs else 0.0,
        "exec.driver_gap_s": mean("driver_gap_s"),
        "exec.task_run_s": mean("task_run_s"), "exec.task_cpu_s": mean("task_cpu_s"),
        "exec.task_gc_s": mean("task_gc_s"),
        "exec.busy_frac": (sum(r["action_task_run_s"] for r in tc) /
                           (res["identity"]["cpus"] * action_s) if action_s else 0.0),
        "exec.input_mb": mean("input_mb"), "exec.shuffle_write_mb": mean("shuffle_write_mb"),
        "exec.shuffle_read_mb": mean("shuffle_read_mb"), "exec.spill_disk_mb": mean("spill_disk_mb"),
        "exec.stage_skew": statistics.median([r["stage_skew"] for r in tc]) if tc else 1.0,
        "stage.persisted_rdds": sum(s.get("rdds", 0) for s in storage) / max(1, len(storage)),
        "stage.cache_mem_mb": sum(s.get("mem_mb", 0) for s in storage) / max(1, len(storage)),
        "stage.cache_disk_mb": sum(s.get("disk_mb", 0) for s in storage) / max(1, len(storage)),
        "stage.growth_mb": res.get("stage_growth_mb", 0.0),
        "jvm.gc_s": res["jvm_gc_s"], "jvm.heap_used_mb": res["heap_used_mb"],
        "setup.session_s": res["setup"]["session_s"], "setup.warmup_s": res["setup"]["warmup_s"],
        "setup.warmup_failed": res["setup"]["warmup_failed"],
        "trace.span_coverage": sum(r["covered_s"] for r in tc) / summed_wall if summed_wall else 0.0,
        "trace.wall_s": res["timed_s"],
    }
    # snapshot / pipeline layers (meter_ingest)
    def kind_mean(kind, phase):
        return phase_mean(phase, {kind})
    def kind_jobs(kind):
        rows = [r for r in tc if r["kind"] == kind]
        return sum(r["jobs"] for r in rows) / max(1, len(rows))
    bw = res.get("bytes_written", {})
    fw = res.get("files_written", {})
    summaries = res.get("summaries", [])
    m.update({
        "snapshot.merge_s": kind_mean("merge", "snapshot.merge"),
        "snapshot.merge_jobs": kind_jobs("merge"),
        "snapshot.read_s": kind_mean("read", "snapshot.read"),
        "snapshot.maintain_s": kind_mean("maintain", "snapshot.maintain"),
        "snapshot.bytes_written_mb": bw.get("snapshot", 0) / 1048576.0,
        "snapshot.files_written": fw.get("snapshot", 0),
        "snapshot.files_live": res.get("files_live", 0),
        "snapshot.versions": res.get("table_versions", 0),
        "pipeline.run_s": kind_mean("pipeline", "pipeline.run"),
        "pipeline.jobs": kind_jobs("pipeline"),
        "pipeline.bytes_written_mb": bw.get("pipeline", 0) / 1048576.0,
        "pipeline.rows_in": sum(s["ingested"] for s in summaries),
        "pipeline.rows_quarantined": sum(s["quarantined"] for s in summaries),
    })
    # family and suite rows (op_sweep): mean call wall per op, summed
    fams = res.get("families", {})
    per_op = {}
    for c in calls:
        if c["kind"] == "op" and not c["error"]:
            per_op.setdefault(c["op"], []).append(c["wall_s"])
    op_med = {op: statistics.median(v) for op, v in per_op.items()}
    for f in ("scan filter join agg window sort setops scalar stream text llm corpus graph "
              "etl vec").split():
        m[f"family.{f}.wall_s"] = sum(t for op, t in op_med.items() if fams.get(op) == f)
    m["suite.headline_s"] = sum(op_med.get(op, 0.0) for op in res.get("headline", []))
    m["suite.secondary_s"] = sum(op_med.get(op, 0.0) for op in res.get("secondary", []))
    # end-to-end figures that are zero, undefined or too unsteady on some workload
    for k in ("call_p50_s", "cache_retained_mb", "merge_p50_s", "read_p50_s", "write_amp",
              "space_amp", "failed_frac"):
        m[k] = e2e[k]["value"] if k in e2e else 0.0
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["op_sweep", "meter_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()

    cp, stamp = build()
    units = max(1, math.ceil(a.seconds / UNIT_SECONDS[a.workload]))
    data, warm = inputs(a.workload, a.seed, units)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--data", data, "--warm", warm, "--work", work,
                "--units", str(units), "--cpus", str(cpus), "--seed", str(a.seed),
                "--trace", str(a.trace)]
        res = jvm(cp, args, work, os.path.join(work, "run.json"))
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        shutil.copy(os.path.join(work, "run.json"),
                    os.path.join(BUILD, "results", f"{a.workload}-{a.seed}-trace{a.trace}.json"))
        if "fatal" in res:
            sys.exit(f"perfbench: workload aborted: {res['fatal']}")
        trace = None
        if a.trace:
            with open(res["trace_file"]) as fh:
                trace = json.load(fh)
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(res["trace_file"], os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    calls = res["calls"]
    if a.workload == "meter_ingest":
        with open(os.path.join(data, "model.json")) as fh:
            model = json.load(fh)
        res["raw_bytes"] = sum(model[b]["raw_bytes"] for b in range(res["batches"]))
        bad = check_meter(res, model)
        problems = [f"batch {b} {op}: {why}" for (b, op), why in sorted(bad.items())]
        wrong = {op: why for (_, op), why in bad.items()}
    else:
        wrong = check_ops(res, data)
        problems = [f"{op}: {why}" for op, why in sorted(wrong.items())]
    failed_ops = {c["op"]: c["error"] for c in calls if c["error"]}
    failed_ops.update(wrong)
    failed = sum(1 for c in calls if c["error"] or c.get("bad"))
    attempted = len(calls)
    e2e = end_to_end(a.workload, res)
    e2e["failed_frac"] = metric(failed / attempted, "ratio", attempted)
    ident = dict(res["identity"], heap=HEAP, input_bytes=dir_bytes(data),
                 source_sha256=stamp)
    report = {"report": a.workload, "seed": a.seed, "trace": a.trace, "identity": ident,
              "setup": res["setup"], "end_to_end": e2e, "failed_ops": failed_ops,
              "problems": problems[:20]}
    if a.trace:
        layers = per_layer(res, trace, e2e)
        report["per_layer"] = layers
    print(json.dumps(report), flush=True)

    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.trace:
        names = [(x["name"], x["unit"]) for x in spec["per_layer"]]
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in names}
    else:
        names = [(x["name"], x["unit"]) for x in spec["end_to_end"]]
        metrics = {k: {"value": float(e2e[k]["value"]), "unit": u} for k, u in names}
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
