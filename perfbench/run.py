#!/usr/bin/env python3
"""Lakehouse benchmark: one workload (or all) end to end.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 15 --trace 0

Builds the program and the harness from source on first use (sbt), makes
the workload's inputs from --seed, runs the workload in its own JVM as a
closed loop for --seconds, checks every output against the oracle, and
prints each metric by name with its unit, then one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Exits non-zero, without a JSON line, on a wrong result or a failed run.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ["etl_daily", "lake_reads", "cdc_stream", "corpus_curate"]
# set-up repetitions per run; a corpus round is too long to repeat
SETUP_REPS = {"etl_daily": 3, "lake_reads": 3, "cdc_stream": 3,
              "corpus_curate": 1}
CORES = 4
# a fixed heap size, so the harness's full collections between unit ops
# cannot shrink the heap that the next op would then have to grow again
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC"] + [
    x for p in ("java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action",
                "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

# generator sizes, fixed per workload
ETL_WARM_OPS = 3      # day 0: its products, orders and order_items files
LAKE_WARM_ROUNDS = 1   # read rounds per set-up repetition
CDC_WARM_FILES = 1
CORPUS_DOCS = 600


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# build

def _fingerprint():
    h = hashlib.md5()
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            paths = [p]
        else:
            paths = sorted(os.path.join(d, n) for d, _, ns in os.walk(p)
                           for n in ns if "/target" not in d)
        for f in paths:
            if f.endswith((".scala", ".sbt", ".properties")):
                st = os.stat(f)
                h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def classpath():
    """Compile program + harness if sources changed; return the runtime
    classpath (jars only, so the JVM can map a class-data archive)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"perfbench: the program's {need} is missing "
                             f"next to perfbench/ — nothing to benchmark")
    os.makedirs(BUILD, exist_ok=True)
    fp_file = os.path.join(BUILD, "fingerprint")
    cp_file = os.path.join(HERE, "target", "runtime-classpath.txt")
    fp = _fingerprint()
    if not (os.path.exists(cp_file) and os.path.exists(CDS_ARCHIVE) and
            os.path.exists(fp_file) and open(fp_file).read() == fp):
        log("building program and harness (sbt)")
        t = time.time()
        r = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0 or not os.path.exists(cp_file):
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("perfbench: build failed")
        train_class_archive(open(cp_file).read().strip())
        with open(fp_file, "w") as f:
            f.write(fp)
        log(f"built in {time.time() - t:.0f} s")
    return open(cp_file).read().strip()


def train_class_archive(cp):
    """Records a class-data archive from one short harness run. Every run
    maps the loaded classes from it instead of parsing them from ~300
    jars, which cuts JVM start, session start and the first ops by about
    ten seconds. The build fails if the archive is not written or the JVM
    cannot map it, and a run fails if its JVM reports that it could not
    use it, so no run starts the slow way unnoticed."""
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    work = os.path.join(BUILD, "work", "class-archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        make_inputs("etl_daily", 0, 1, work)
        r = subprocess.run(
            jvm_command(cp, work, "etl_daily", 0, 0, 1,
                        [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"]),
            cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True)
        check = subprocess.run(
            ["java", f"-XX:SharedArchiveFile={CDS_ARCHIVE}", "-Xshare:on",
             "-cp", cp, "-version"],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0 or check.returncode != 0:
            sys.stderr.write(r.stdout[-4000:] + check.stdout[-2000:])
            raise SystemExit("perfbench: recording the class-data archive "
                             "failed")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def jvm_command(cp, work, workload, seconds, trace, reps, extra=()):
    return (["java"] + JVM_OPTS + list(extra) +
            [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-cp", cp, "perfbench.Main", workload, work, str(seconds),
             str(trace), str(reps)])


# ---------------------------------------------------------------------------
# inputs

def _size(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, ns in os.walk(path) for n in ns)


def make_inputs(workload, seed, seconds, work):
    """Writes the inputs and manifest.json; returns the context the
    oracle and the metrics need."""
    inputs = os.path.join(work, "inputs")
    ctx = {"workload": workload, "seed": seed}
    if workload == "etl_daily":
        g = gen.EtlGenerator(seed)
        days = [g.day() for _ in range(int(seconds) + 8)]
        gen.write_etl_days(inputs, days)
        file_ops = gen.etl_file_ops(days)
        ops = []
        for d, ds, name, reland in file_ops:
            src = next(x for x in days if x.files[ds][0] == name)
            text = src.files[ds][1]
            ops.append({"ds": ds, "reland": reland,
                        "path": os.path.join("inputs", f"day-{src.index:04d}",
                                             ds, name),
                        "rows": 0 if reland else text.count("\n") - 1,
                        "bytes": 0 if reland else len(text)})
        ctx["file_ops"] = file_ops
        ctx["op_bytes"] = [o["bytes"] for o in ops]
        manifest = {"ops": ops}
    elif workload == "lake_reads":
        build = gen.LakeBuild(seed)
        commits = build.write(os.path.join(inputs, "build"))
        ctx["build"] = build
        ctx["build_bytes"] = sum(os.path.getsize(p) for _, p in commits)
        ids = build.order_ids()
        warm = gen.lake_read_ops(f"warm:{seed}", LAKE_WARM_ROUNDS,
                                 build.DAYS, ids)
        ops = gen.lake_read_ops(seed, int(seconds) + 10, build.DAYS, ids)
        for s in warm + ops:
            if s["kind"] in ("top5", "sql_top5"):
                s["rows"] = build.n_items + build.N_PRODUCTS
            elif s["kind"] in ("travel", "sql_travel"):
                s["rows"] = (s["day"] + 1) * build.ORDERS_PER_DAY
            else:
                s["rows"] = build.n_orders
        ctx["specs"] = warm + ops
        manifest = {"commits": [{"table": t, "path": os.path.relpath(p, work)}
                                for t, p in commits],
                    "cycle": len(gen.LAKE_READ_KINDS),
                    "warm_ops": warm, "ops": ops}
    elif workload == "cdc_stream":
        g = gen.CdcGenerator(seed)
        d = os.path.join(inputs, "cdc")
        os.makedirs(d)
        files = []
        for _ in range(CDC_WARM_FILES + int(seconds * 4) + 10):
            name, text, rows = g.file()
            with open(os.path.join(d, name), "w") as f:
                f.write(text)
            files.append({"path": os.path.join("inputs", "cdc", name),
                          "rows": rows, "bytes": len(text)})
        ctx["file_bytes"] = [f["bytes"] for f in files]
        manifest = {"files": files, "warmup_files": CDC_WARM_FILES}
    elif workload == "corpus_curate":
        d = os.path.join(inputs, "corpus")
        n = gen.write_corpus(d, seed, n_docs=CORPUS_DOCS)
        ctx["data_dir"] = d
        ctx["n_docs"] = n
        ctx["emb_bytes"] = _size(os.path.join(d, "embeddings.parquet"))
        manifest = {"data": os.path.join("inputs", "corpus"), "n_docs": n}
    else:
        raise SystemExit(f"perfbench: unknown workload {workload}")
    with open(os.path.join(work, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return ctx


# ---------------------------------------------------------------------------
# metrics

def unit_latencies(timed, workload):
    """Latency of each unit op: the sum of its steps. A step is one call
    sequence the harness records (one file's pipeline execution, one
    read); the unit op is a landed day for etl_daily (its three files and
    the re-landed one), a round of the read mix for lake_reads, and the
    step itself elsewhere. The harness ends its timed phase on a unit
    boundary. A unit op with a failed step has no latency: a step that
    throws early would otherwise read as a fast one."""
    if workload == "etl_daily":
        starts = [i for i, o in enumerate(timed) if o["kind"] == "products"]
    elif workload == "lake_reads":
        starts = list(range(0, len(timed), len(gen.LAKE_READ_KINDS)))
    else:
        starts = list(range(len(timed)))
    bounds = starts[1:] + [len(timed)]
    return [sum(o["wall_s"] for o in timed[a:b]) for a, b in zip(starts, bounds)
            if all(o["ok"] for o in timed[a:b])]


def end_to_end(rec, ctx, gen_s):
    timed = [o for o in rec["ops"] if o["phase"] == "timed"]
    ok = [o for o in timed if o["ok"]]
    steps = [o["wall_s"] for o in ok]
    lat = unit_latencies(timed, ctx["workload"])
    if not lat:
        raise SystemExit(f"perfbench: {ctx['workload']}: every unit op "
                         f"failed: {next(o.get('error') for o in timed if not o['ok'])}")
    wl = ctx["workload"]
    setup = (gen_s + (rec["session_ready_ms"] - rec["jvm_start_ms"]) / 1000.0
             + rec["setup_once_s"] + statistics.median(rec["setup_rep_s"]))
    m = {
        "setup_s": (setup, "s"),
        "op_p50_s": (M.percentile(lat, 50), "s"),
        "rows_per_s": (sum(o["rows"] for o in ok) /
                       sum(o["wall_s"] for o in timed), "rows/s"),
        "heap_peak_mb": (max(rec["heap_samples_mb"]), "MB"),
    }
    x = rec["extra"]
    if wl == "etl_daily":
        landed = sum(ctx["op_bytes"][ETL_WARM_OPS:x["files_done"]])
        wamp = (x["storage_after"]["bytes"] - x["storage_before"]["bytes"]) / landed
    elif wl == "cdc_stream":
        landed = sum(ctx["file_bytes"][CDC_WARM_FILES:x["files_done"]])
        wamp = (x["storage_after"]["bytes"] - x["storage_before"]["bytes"]) / landed
    elif wl == "lake_reads":
        wamp = x["storage_built"]["bytes"] / ctx["build_bytes"]
    else:
        wamp = statistics.median(o["index_bytes"] for o in timed) / ctx["emb_bytes"]
    m["write_amp"] = (wamp, "ratio")
    extra = {"failed_op_ratio": ((len(timed) - len(ok)) / len(timed), "ratio"),
             "ops": (len(lat), "count"), "steps": (len(timed), "count"),
             "step_p50_s": (M.percentile(steps, 50), "s")}
    for name, xs in (("op", lat), ("step", steps)):
        q = M.tail_percentile(len(xs))
        if q is not None:
            extra[f"{name}_p{q:g}_s"] = (M.percentile(xs, q), "s")
    return m, extra


def per_layer(rec, spans, ctx):
    timed = [o for o in rec["ops"] if o["phase"] == "timed"]
    n = len(timed)
    tidx = {o["idx"] for o in timed}
    wall = sum(o["wall_s"] for o in timed)
    out = {}

    def put(name, value, unit):
        out[name] = (value, unit)

    # spans: total and self time per name, per timed op
    selfs = M.self_times(spans)
    by_name, self_by_name = {}, {}
    for sp in spans:
        if sp["op"] not in tidx:
            continue
        d = (sp["end_ms"] - sp["start_ms"]) / 1000.0
        by_name[sp["name"]] = by_name.get(sp["name"], 0.0) + d
        self_by_name[sp["name"]] = (self_by_name.get(sp["name"], 0.0) +
                                    selfs[sp["id"]] / 1000.0)
    covered = sum(v for k, v in self_by_name.items() if k != "op")
    put("trace.layer_self_s", covered / n, "s")
    put("trace.uncovered_s", self_by_name.get("op", 0.0) / n, "s")
    accounting = {k: v / n for k, v in self_by_name.items()}

    # listener events attributed to timed ops by wall-clock interval
    ops_sorted = sorted(timed, key=lambda o: o["t0_ms"])
    jobs = [(j[0], j[1], j[2]) for j in rec["jobs"]]
    j_at = M.attribute(ops_sorted, [j[0] for j in jobs])
    t_at = M.attribute(ops_sorted, [t[0] for t in rec["tasks"]])
    s_at = M.attribute(ops_sorted, [s[0] for s in rec["stages"]])
    job_s = gap = 0.0
    commit_job_s = 0.0
    per_op_jobs = {}
    for j, a in zip(jobs, j_at):
        if a is None:
            continue
        per_op_jobs.setdefault(a, []).append((j[0], j[1]))
        job_s += (j[1] - j[0]) / 1000.0
        if j[2].startswith(("graft:commit-", "graft:writeData",
                            "graft:touchedParts")):
            commit_job_s += (j[1] - j[0]) / 1000.0
    for i, o in enumerate(ops_sorted):
        covered_ms = M.union_length(M.clip(per_op_jobs.get(i, []),
                                           o["t0_ms"], o["t1_ms"]))
        gap += o["wall_s"] - covered_ms / 1000.0
    tasks = [t for t, a in zip(rec["tasks"], t_at) if a is not None]
    put("spark.jobs", sum(len(v) for v in per_op_jobs.values()) / n, "count")
    put("spark.stages", sum(1 for a in s_at if a is not None) / n, "count")
    put("spark.tasks", len(tasks) / n, "count")
    put("spark.job_s", job_s / n, "s")
    put("spark.driver_gap_s", gap / n, "s")
    put("spark.task_busy_ratio",
        sum(t[2] for t in tasks) / 1000.0 / (wall * CORES), "ratio")
    put("spark.gc_s", sum(o["gc_ms"] for o in timed) / 1000.0 / n, "s")
    put("spark.shuffle_write_bytes", sum(t[3] for t in tasks) / n, "bytes")
    put("spark.shuffle_read_bytes", sum(t[4] for t in tasks) / n, "bytes")
    put("spark.input_bytes", sum(t[6] for t in tasks) / n, "bytes")
    # module layers: reported where the workload exercises them
    layer = {}

    def lput(name, value, unit):
        layer[name] = (value, unit)
    layer["spark.spill_bytes"] = (sum(t[5] for t in tasks) / n, "bytes")
    for name in sorted(by_name):
        if name == "op":
            continue
        lput(name + "_s", by_name[name] / n, "s")
    wl = ctx["workload"]
    if wl == "etl_daily":
        lput("pipeline.overhead_s", self_by_name.get("pipeline.run", 0.0) / n, "s")
        lput("pipeline.skipped_stages",
             sum(o["result"]["skipped"] for o in timed), "count")
        valid = rej = 0
        for o in timed:
            v, r = o["result"].get("job", (0, 0))
            valid += v
            rej += r
        lput("etl.rows_valid", valid, "count")
        lput("etl.rows_rejected", rej, "count")
    if wl in ("etl_daily", "cdc_stream"):
        st = [o["storage"] for o in timed]
        prev = rec["extra"]["storage_before"]
        commits = files = written = 0
        for s in st:
            commits += s["commits"] - prev["commits"]
            files += s["data_files"] - prev["data_files"]
            written += s["bytes"] - prev["bytes"]
            prev = s
        lput("lake.commits", commits / n, "count")
        lput("lake.files_added", files / n, "count")
        lput("lake.bytes_written", written / n, "bytes")
        lput("lake.log_bytes", st[-1]["log_bytes"], "bytes")
        lput("lake.commit_job_s", commit_job_s / n, "s")
    if wl == "lake_reads":
        lput("lake.files_read_ratio",
             sum(o["files_read"] for o in timed) /
             max(1, sum(o["files_live"] for o in timed)), "ratio")
        lput("lake.bytes_read", sum(t[6] for t in tasks) / n, "bytes")
    if wl == "cdc_stream":
        prog = rec["stream_progress"]
        p_at = M.attribute(ops_sorted, [p["start_ms"] for p in prog])
        sums = {}
        batches = rows = 0
        for p, a in zip(prog, p_at):
            if a is None:
                continue
            batches += 1
            rows += p["rows"]
            for k, v in p["duration_ms"].items():
                sums[k] = sums.get(k, 0) + v
        lput("stream.start_s", (by_name.get("stream.run", 0.0) -
                                sums.get("triggerExecution", 0) / 1000.0) / n, "s")
        for key, name in (("addBatch", "add_batch"),
                          ("latestOffset", "latest_offset"),
                          ("queryPlanning", "query_planning"),
                          ("walCommit", "wal_commit"),
                          ("commitOffsets", "commit_offsets"),
                          ("triggerExecution", "trigger_execution")):
            lput(f"stream.{name}_s", sums.get(key, 0) / 1000.0 / n, "s")
        lput("stream.batches", batches / n, "count")
        lput("stream.rows", rows / n, "count")
    if wl == "corpus_curate":
        kept = [len(o["result"]["clean"]["rows"]) for o in timed]
        lput("ext.docs_kept_ratio", statistics.median(kept) / ctx["n_docs"],
             "ratio")
    return out, layer, accounting


# ---------------------------------------------------------------------------

def run_one(workload, seed, seconds, trace):
    t_start = time.time()
    cp = classpath()
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        ctx = make_inputs(workload, seed, seconds, work)
        gen_s = time.time() - t0
        cmd = jvm_command(cp, work, workload, seconds, trace,
                          SETUP_REPS[workload],
                          [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"])
        r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if "Unable to use shared archive" in r.stdout:
            raise SystemExit("perfbench: the JVM could not use the "
                             "class-data archive; delete .bench_build to "
                             "rebuild it")
        out_dir = os.path.join(work, "out")
        rec_file = os.path.join(out_dir, "record.json")
        if r.returncode != 0 or not os.path.exists(rec_file):
            sys.stderr.write(r.stdout[-6000:])
            raise SystemExit(f"perfbench: {workload} harness failed "
                             f"(exit {r.returncode})")
        with open(rec_file) as f:
            rec = json.load(f)
        spans = []
        if trace:
            with open(os.path.join(out_dir, "spans.jsonl")) as f:
                spans = [json.loads(line) for line in f if line.strip()]
        errors = []
        if workload == "etl_daily":
            oracle.check_etl(rec, ctx["file_ops"], out_dir, errors)
        elif workload == "lake_reads":
            oracle.check_lake(rec, ctx["specs"], ctx["build"], errors)
        elif workload == "cdc_stream":
            oracle.check_cdc(rec, seed, out_dir, errors)
        else:
            oracle.check_corpus(rec, ctx["data_dir"], errors)
        warm_failed = [o for o in rec["ops"]
                       if o["phase"] == "warm" and not o["ok"]]
        if warm_failed:
            errors.append(f"{len(warm_failed)} warm-up ops failed: "
                          f"{warm_failed[0].get('error')}")
        e2e, extra = end_to_end(rec, ctx, gen_s)
        layers = per_layer(rec, spans, ctx) if trace else None
        if trace:
            dst = os.path.join(BUILD, "trace")
            os.makedirs(dst, exist_ok=True)
            for name in ("record.json", "spans.jsonl"):
                p = os.path.join(out_dir, name)
                if os.path.exists(p):
                    shutil.copy(p, os.path.join(dst, f"{workload}-{name}"))
        timed = [o for o in rec["ops"] if o["phase"] == "timed"]
        res = {"workload": workload, "errors": errors, "e2e": e2e,
               "extra": extra, "layers": layers,
               "attempted": len(timed),
               "failed": sum(1 for o in timed if not o["ok"]),
               "wall_s": time.time() - t_start}
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(res, trace):
    wl = res["workload"]
    for name, (v, unit) in list(res["e2e"].items()) + list(res["extra"].items()):
        print(f"{wl:14s} {name:24s} {_fmt(v):>14s} {unit}")
    if trace:
        main, layer, _ = res["layers"]
        for name, (v, unit) in list(main.items()) + list(layer.items()):
            print(f"{wl:14s} {name:24s} {_fmt(v):>14s} {unit}")
    for e in res["errors"][:20]:
        print(f"{wl:14s} MISMATCH {e}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = [run_one(w, a.seed, a.seconds, a.trace) for w in names]
    for r in results:
        report(r, a.trace)
    if any(r["errors"] for r in results):
        raise SystemExit(f"perfbench: wrong results in "
                         f"{[r['workload'] for r in results if r['errors']]}")
    metrics = {}
    for r in results:
        src = r["layers"][0] if a.trace else r["e2e"]
        for name, (v, unit) in src.items():
            key = name if len(results) == 1 else f"{r['workload']}.{name}"
            metrics[key] = {"value": v, "unit": unit}
    print(json.dumps({"correct": True,
                      "attempted": sum(r["attempted"] for r in results),
                      "failed": sum(r["failed"] for r in results),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
