#!/usr/bin/env python3
"""graft's benchmark: one seeded workload, measured end to end or traced.

    python3 perfbench/run.py --workload <kcv_serve|kv_ingest|analytics_batch>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
benchmark program from source (sbt, offline) into perfbench/target and
caches the classpath under .bench_build/; later runs reuse it while the
sources are unchanged. Each run generates its tables from the seed into a
fresh directory under .bench_build/runs/, starts one JVM that sets up the
workload, warms it, measures it with one closed-loop client and checks
every answer, then removes the directory.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` — the end-to-end metrics every
workload reports (E2E) with --trace 0, the per-layer metrics every
workload reports (PER_LAYER) with --trace 1. The lines before it give
the workload's own detail: `detail <name> <value> <unit>` for its
operations' latencies and, when traced, for each layer it exercises. A
traced run also keeps its spans, Spark jobs and per-layer table under
.bench_build/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175.0
BUILD_DEADLINE_S = 850.0
# A fixed heap: no resizing during the measurement.
HEAP = "4g"

# Tables each workload reads, the scale factor of the measured tables and
# of the warm-up tables.
WORKLOADS = {
    "kcv_serve": {"tables": "region,nation,customer,supplier", "sf": 0.1, "warm_sf": 0.002},
    "kv_ingest": {"tables": "events", "sf": 0.1, "warm_sf": 0.012},
    "analytics_batch": {"tables": None, "sf": 0.02, "warm_sf": None},
}

# The end-to-end metrics of the result line, the same for every workload:
# set-up time, and the wall and process CPU time of one pass over the
# workload's fixed work (see pass_seconds).
E2E = [("setup_s", "s"), ("pass_s", "s"), ("pass_cpu_s", "s")]
# The per-layer metrics of a traced run's result line, the same for every
# workload: Spark counters per traced request, and the calls that write a
# KV store (KVStreamSink.applyBatchDelta on kv_ingest, KVSegmentStore.write
# on analytics_batch, KVDeltaStore.appendMutation on kcv_serve).
PER_LAYER = ("spark.jobs", "spark.tasks", "spark.task_ms", "spark.driver_gap_ms",
             "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.gc_ms",
             "spark.parallel_eff", "kv.write.ms", "kv.write.jobs", "trace.overhead_pct")
READS = ("kcv.slice", "kcv.multislice", "kcv.keyrange", "kcv.traversal")
# kcv_serve's round (KcvServe.Round): operation type and count.
KCV_ROUND = {"kcv.slice": 3, "kcv.multislice": 2, "kcv.keyrange": 2, "kcv.traversal": 2,
             "kcv.mutate": 1}
# The workload's own per-layer detail: the layers it exercises (name
# prefixes). A layer it leaves idle would read 0 every run.
LAYERS = {
    "kv_ingest": ("spark.", "kv.append.", "kv.compact.", "kv.log_depth_max", "kv.write_amp",
                  "kv.space_amp", "kvlog.", "streaming.", "trace."),
    "analytics_batch": ("spark.", "kvconnector.segment_write.", "graph.pagerank.", "graph.cc.",
                        "graph.sssp.", "olap.", "pipeline.", "trace."),
    "kcv_serve": ("spark.", "kv.", "kvconnector.", "graph.traversal.", "trace."),
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(msg, flush=True)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


# ---- build ----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                        if os.path.isfile(p))
    for p in files:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_built():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx3g")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_DEADLINE_S)
    lines = [ln for ln in proc.stdout.splitlines()
             if not ln.startswith("[") and ".jar" in ln and os.pathsep in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build: compiled in {time.time() - t0:.1f} s")
    return cp


# ---- one run ----------------------------------------------------------------

def stamp():
    """Machine load and free memory, so a contended window shows."""
    out = {}
    try:
        with open("/proc/loadavg") as f:
            out["loadavg_1m"] = float(f.read().split()[0])
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith(("MemTotal:", "MemAvailable:")):
                    out[ln.split(":")[0] + "_mb"] = int(ln.split()[1]) // 1024
    except OSError:
        pass
    return out


def run_jvm(cp, args, work, deadline):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.out"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        code = None
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            # on a timeout, and when this script is interrupted or terminated
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return code


def jvm_tail(work, n=3000):
    try:
        with open(os.path.join(work, "jvm.out"), errors="replace") as f:
            return f.read()[-n:]
    except OSError:
        return ""


def check_entries(data_dir, out_dir):
    """Compare each entry's result with its DuckDB oracle the way
    tools/check.py does: columns sorted by name, rows sorted, values
    compared as strings, the Spark side read through pandas."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)

    def norm(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    results = {}
    for name in sorted(d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d))):
        parts = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        if name not in oracle:
            results[name] = None if len(got) else "empty result"
            continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:  # noqa: BLE001 — any oracle error is a failed check
            results[name] = f"oracle error {e}"
            continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            results[name] = f"columns {list(g.columns)} vs {list(e.columns)}"
        elif len(g) != len(e):
            results[name] = f"{len(g)} rows vs {len(e)}"
        elif not g.astype(str).equals(e.astype(str)):
            diff = (g.astype(str) != e.astype(str)).any(axis=1)
            results[name] = f"{int(diff.sum())}/{len(g)} rows differ"
        else:
            results[name] = None
    return results


# ---- metrics ----------------------------------------------------------------

def detail_metrics(workload, s, v):
    """The workload's own latency metrics, with their units."""
    out = {}
    tails = []

    def tail_of(name, xs):
        t = M.tail(xs)
        if t is None:
            tails.append(f"{name}: {len(xs)} samples, too few for a tail")
            return None
        p, val, n, beyond = t
        tails.append(f"{name}: p{p:g} of {n} samples ({beyond} beyond it)")
        return val

    if workload == "kcv_serve":
        for op in ("slice", "multislice", "keyrange", "traversal", "mutate"):
            out[f"kcv.{op}_p50_ms"] = (M.median(s[f"kcv.{op}"]), "ms")
        out["kcv.read_tail_ms"] = (tail_of("kcv.read_tail_ms",
                                           [x for op in READS for x in s[op]]), "ms")
    elif workload == "kv_ingest":
        out["ingest.events_per_s"] = (v["ingest.events_per_s"], "1/s")
        out["ingest.batch_tail_ms"] = (tail_of("ingest.batch_tail_ms", s["ingest.batch"]), "ms")
        out["ingest.replica_catchup_s"] = (M.median(s["ingest.replica_catchup"]) / 1000.0, "s")
    else:
        for alg in ("pagerank", "cc", "sssp"):
            out[f"graph.{alg}_s"] = (M.median(s[f"graph.{alg}"]) / 1000.0, "s")
        out["olap.mix_s"] = (M.median(s["olap.mix"]) / 1000.0, "s")
        out["pipeline.mix_s"] = (M.median(s["pipeline.mix"]) / 1000.0, "s")
    return {k: v for k, v in out.items() if v[0] is not None}, tails


def pass_seconds(workload, res, key="passes"):
    """One pass's time (wall, or CPU with key="passes_cpu"): each of its
    operations at its median over the run's passes, summed. kcv_serve
    records no passes; its round's operations are summed at their type's
    median. None when no pass completed without a failed operation."""
    if workload == "kcv_serve":
        s = res["samples" if key == "passes" else "samples_cpu"]
        if not all(s.get(op) for op in KCV_ROUND):
            return None
        return sum(n * M.median(s[op]) for op, n in KCV_ROUND.items()) / 1000.0
    return M.pass_time(res[key])


PER_LAYER_UNITS = {}


def per_layer_metrics(full, values):
    """Every per-layer metric, from the traced requests' spans (the
    segment-write time from set-up's)."""
    out = {}
    tr = full.subset(lambda root: root.startswith("req."))

    def put(name, value, unit):
        out[name] = float(value)
        PER_LAYER_UNITS[name] = unit

    measured = [s for s in tr.prefixed("req.")]
    sp = tr.spark(measured)
    n_req = max(1, len(measured))
    for key, unit in (("jobs", "count"), ("tasks", "count"), ("task_ms", "ms"),
                      ("driver_gap_ms", "ms"), ("shuffle_read_bytes", "bytes"),
                      ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
                      ("gc_ms", "ms")):
        put(f"spark.{key}", sp[key] / n_req, unit)
    put("spark.parallel_eff", sp["parallel_eff"], "ratio")

    # kv: explicit spans on kcv_serve; applyBatchDelta spans on kv_ingest,
    # split by whether the log depth shows a compaction inside the call
    kvsink = tr.named("streaming.kvsink.batch")
    compacting = [s for s in kvsink
                  if s["attrs"].get("log_depth_after", 0) <= s["attrs"].get("log_depth_before", 0)]
    plain = [s for s in kvsink if s not in compacting]
    appends = tr.named("kv.append") or plain
    put("kv.append.ms", M.mean(tr.wall_us(s) / 1000.0 for s in appends), "ms")
    put("kv.append.jobs", M.mean(len(tr.subtree_jobs(s)) for s in appends), "count")
    compacts = [s for s in tr.named("kv.compact") if s["attrs"].get("runs", 0) > 0]
    if compacts:
        put("kv.compact.ms", M.mean(tr.wall_us(s) / 1000.0 for s in compacts), "ms")
        put("kv.compact.runs", len(compacts), "count")
        put("kv.compact.bytes_rewritten", M.mean(s["attrs"].get("bytes_rewritten", 0)
                                                 for s in compacts), "bytes")
    else:
        extra_ms = M.mean(tr.wall_us(s) / 1000.0 for s in compacting) - \
            M.mean(tr.wall_us(s) / 1000.0 for s in plain)
        put("kv.compact.ms", max(0.0, extra_ms) if compacting else 0.0, "ms")
        put("kv.compact.runs", len(compacting), "count")
        put("kv.compact.bytes_rewritten",
            values.get("kv.compact.bytes_rewritten", 0.0),
            "bytes")
    merged = tr.named("kv.merged_read")
    put("kv.merged_read.ms", M.mean(tr.wall_us(s) / 1000.0 for s in merged), "ms")
    depths = [s["attrs"].get(k, 0) for s in merged + kvsink
              for k in ("log_depth", "log_depth_after")]
    put("kv.log_depth_max", max(depths, default=0), "count")
    writes = tr.named("kv.append") + tr.named("kv.compact") + kvsink
    put("kv.write_amp", values.get("kv.write_amp", M.ratio(
        tr.attr(writes, "fs_bytes_written"), tr.attr(writes, "user_bytes"))), "ratio")
    put("kv.space_amp", values.get("kv.space_amp", 0.0), "ratio")

    reads = tr.named("kvconnector.read")
    put("kvconnector.read.ms", M.mean(tr.wall_us(s) / 1000.0 for s in reads), "ms")
    put("kvconnector.scan_task_ms", M.ratio(tr.spark(reads)["task_ms"], len(reads)), "ms")
    pruned = reads + tr.named("graph.traversal")
    put("kvconnector.segments_scheduled_frac",
        M.ratio(tr.attr(pruned, "segments_planned"), tr.attr(pruned, "segments_total")), "ratio")
    put("kvconnector.rows_scanned_per_row_returned",
        M.ratio(tr.attr(reads, "rows_scanned"), tr.attr(reads, "rows_returned")), "ratio")
    seg_writes = full.named("kvconnector.segment_write")
    put("kvconnector.segment_write.ms", M.mean(full.wall_us(s) / 1000.0 for s in seg_writes), "ms")
    # every call that writes a KV store: the measured ones, or set-up's
    # segment writes when the workload writes no store while measured
    kv_writes = kvsink + tr.named("kv.append")
    kv_trace = tr if kv_writes else full
    kv_writes = kv_writes or seg_writes
    put("kv.write.ms", M.mean(kv_trace.wall_us(s) / 1000.0 for s in kv_writes), "ms")
    put("kv.write.jobs", M.mean(len(kv_trace.subtree_jobs(s)) for s in kv_writes), "count")
    catchups = tr.named("kvlog.catchup")
    put("kvlog.catchup.ms", M.mean(tr.wall_us(s) / 1000.0 for s in catchups), "ms")
    put("kvlog.batches", M.mean(s["attrs"].get("batches", 0) for s in catchups), "count")

    for alg in ("pagerank", "cc", "sssp"):
        req = tr.named(f"req.graph.{alg}")
        g = tr.spark(req)
        k = max(1, len(req))
        put(f"graph.{alg}.build_ms",
            M.mean(tr.wall_us(s) / 1000.0 for s in tr.named(f"graph.{alg}.build")), "ms")
        put(f"graph.{alg}.action_ms",
            M.mean(tr.wall_us(s) / 1000.0 for s in tr.named(f"graph.{alg}.action")), "ms")
        put(f"graph.{alg}.jobs", g["jobs"] / k, "count")
        put(f"graph.{alg}.driver_gap_ms", g["driver_gap_ms"] / k, "ms")
        put(f"graph.{alg}.parallel_eff", g["parallel_eff"], "ratio")
        put(f"graph.{alg}.shuffle_bytes", g["shuffle_write_bytes"] / k, "bytes")
    trav = tr.named("graph.traversal")
    put("graph.traversal.jobs", M.ratio(len([j for s in trav for j in tr.subtree_jobs(s)]),
                                        len(trav)), "count")
    put("graph.traversal.rows_scanned_per_row_returned",
        M.ratio(tr.attr(trav, "rows_scanned"), tr.attr(trav, "rows_returned")), "ratio")

    for sink in ("kvsink", "markov", "rollup"):
        put(f"streaming.{sink}.batch_ms",
            M.mean(tr.wall_us(s) / 1000.0 for s in tr.named(f"streaming.{sink}.batch")), "ms")
    put("streaming.versions_on_disk", values.get("streaming.versions_on_disk", 0), "count")

    for layer in ("olap", "pipeline"):
        req = tr.prefixed(f"req.{layer}.")
        g = tr.spark(req)
        k = max(1, len(req))
        builds = [s for s in tr.prefixed(f"{layer}.") if s["name"].endswith(".build")]
        actions = [s for s in tr.prefixed(f"{layer}.") if s["name"].endswith(".action")]
        put(f"{layer}.build_ms", M.mean(tr.wall_us(s) / 1000.0 for s in builds), "ms")
        put(f"{layer}.action_ms", M.mean(tr.wall_us(s) / 1000.0 for s in actions), "ms")
        put(f"{layer}.jobs", g["jobs"] / k, "count")
        put(f"{layer}.driver_gap_ms", g["driver_gap_ms"] / k, "ms")
        put(f"{layer}.parallel_eff", g["parallel_eff"], "ratio")
        put(f"{layer}.shuffle_bytes", g["shuffle_write_bytes"] / k, "bytes")
        put(f"{layer}.spill_bytes", g["spill_bytes"] / k, "bytes")
    return out


def entry_rows(tr):
    """One row per SparkEntry and graph call: build vs action, jobs, gaps."""
    rows = {}
    for s in tr.prefixed("req."):
        name = s["name"][len("req."):]
        if not name.startswith(("olap.", "pipeline.", "graph.")):
            continue
        parts = {c: tr.spans[c] for c in tr.children.get(s["id"], [])}
        row = rows.setdefault(name, {"calls": 0, "build_ms": 0.0, "action_ms": 0.0,
                                     "jobs": 0, "driver_gap_ms": 0.0, "task_ms": 0.0})
        row["calls"] += 1
        for p in parts.values():
            key = "build_ms" if p["name"].endswith(".build") else "action_ms"
            row[key] += tr.wall_us(p) / 1000.0
        g = tr.spark([s])
        row["jobs"] += g["jobs"]
        row["driver_gap_ms"] += g["driver_gap_ms"]
        row["task_ms"] += g["task_ms"]
    return rows


def overhead(res):
    """Tracing overhead per operation type — mean latency of its traced
    requests against its untraced ones, which alternate in a traced run —
    and over all of them, weighted by time."""
    per, tot_u, tot_t = {}, 0.0, 0.0
    for name, u in res["samples"].items():
        t = res["traced_samples"].get(name)
        if name.endswith(".mix") or not t or not u:
            continue
        mu, mt = M.mean(u), M.mean(t)
        per[name] = (mt - mu) / mu * 100.0
        tot_u += mu
        tot_t += mt
    return per, (tot_t - tot_u) / tot_u * 100.0 if tot_u else 0.0


# ---- main -------------------------------------------------------------------

def terminate(signum, frame):
    """SIGTERM unwinds like an exception, so the JVM is stopped and the
    run's directory removed."""
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    first_build = not os.path.exists(os.path.join(BUILD, "classpath.txt"))
    cp = ensure_built()
    deadline = (time.time() if first_build else t_start) + DEADLINE_S

    spec = WORKLOADS[args.workload]
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        start = stamp()
        log(f"start: {args.workload} seed={args.seed} seconds={args.seconds:g} "
            f"trace={args.trace} " + " ".join(f"{k}={v}" for k, v in start.items()))
        data, warm = os.path.join(work, "data"), os.path.join(work, "warm")
        import gen
        tables = set(spec["tables"].split(",")) if spec["tables"] else None
        gen.generate(data, args.seed, spec["sf"], tables)
        if spec["warm_sf"]:
            gen.generate(warm, args.seed + 1, spec["warm_sf"], tables)
        log(f"inputs generated at {time.time() - t_start:.1f} s")
        code = run_jvm(cp, ["--workload", args.workload, "--seed", str(args.seed),
                            "--seconds", str(args.seconds), "--trace", str(args.trace),
                            "--work", work, "--data", data, "--warm-data", warm],
                       work, deadline)
        log(f"jvm exited at {time.time() - t_start:.1f} s")
        with open(os.path.join(work, "jvm.out"), errors="replace") as f:
            for ln in f:
                if ln.startswith("[perfbench"):
                    log(ln.rstrip())
        result_file = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result_file):
            sys.stderr.write(jvm_tail(work))
            fail(f"benchmark JVM exited with {code}", 1)
        with open(result_file) as f:
            res = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        if args.workload == "analytics_batch":
            for name, err in check_entries(data, os.path.join(work, "entries")).items():
                attempted += 1
                if err is not None:
                    failed += 1
                    failures.append(f"{name}: {err}")
        info = res["info"]
        log("sizes: " + json.dumps(info, sort_keys=True))
        log(f"setup: {json.dumps(res['setup_parts'])}")
        log(f"jvm: start {json.dumps(res['start'])} end {json.dumps(res['end'])}")
        for msg in failures:
            log(f"FAILED {msg}")

        log("samples: " + " ".join(f"{k}={len(v)}" for k, v in res["samples"].items()))
        if args.trace:
            trace_dir = os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}")
            shutil.rmtree(trace_dir, ignore_errors=True)
            os.makedirs(trace_dir)
            shutil.copy(os.path.join(work, "trace.jsonl"), trace_dir)
            with open(os.path.join(work, "trace.jsonl")) as f:
                tr = M.Trace([json.loads(ln) for ln in f], res["cores"])
            values = per_layer_metrics(tr, res["values"])
            per, overall = overhead(res)
            values["trace.overhead_pct"] = overall
            PER_LAYER_UNITS["trace.overhead_pct"] = "%"
            detail = {k: v for k, v in values.items() if k.startswith(LAYERS[args.workload])}
            measured = tr.subset(lambda root: root.startswith("req."))
            report = {"per_layer": detail, "layers": measured.layer_table(),
                      "entries": entry_rows(measured),
                      "overhead_pct": per, "overhead_pct_mean_latency": overall}
            with open(os.path.join(trace_dir, "layers.json"), "w") as f:
                json.dump(report, f, indent=1, sort_keys=True)
            log(f"{'layer':<12} {'spans':>7} {'self_ms':>11} {'jobs':>6}")
            for layer, row in sorted(report["layers"].items()):
                log(f"{layer:<12} {row['spans']:>7} {row['self_ms']:>11.1f} {row['jobs']:>6}")
            for k, v in sorted(per.items()):
                log(f"tracing overhead {k}: {v:+.1f} %")
            log(f"tracing overhead (mean operation latency): {overall:+.1f} %")
            for k, v in sorted(detail.items()):
                log(f"detail {k} {v:.6g} {PER_LAYER_UNITS[k]}")
            log(f"trace written to {os.path.relpath(trace_dir, ROOT)}")
            out = {k: {"value": values[k], "unit": PER_LAYER_UNITS[k]} for k in PER_LAYER}
        else:
            detail, tails = detail_metrics(args.workload, res["samples"], res["values"])
            for t in tails:
                log(f"tail {t}")
            for k, (v, unit) in detail.items():
                log(f"detail {k} {v:.6g} {unit}")
            for key in ("passes", "passes_cpu"):
                sums = [sum(p.values()) / 1000.0 for p in res.get(key, [])]
                log(f"{key} (summed): {' '.join(f'{x:.3f}' for x in sums)} s")
            log(f"heap_live_mb: {res['heap_live_mb']:.1f}")
            values = {"setup_s": res["setup_s"], "pass_s": pass_seconds(args.workload, res),
                      "pass_cpu_s": pass_seconds(args.workload, res, "passes_cpu")}
            if values["pass_s"] is None:
                failed += 1
                log("FAILED no pass completed without a failed operation")
            out = {k: {"value": values[k], "unit": unit} for k, unit in E2E}
        log(f"elapsed: {time.time() - t_start:.1f} s")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": out}), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
