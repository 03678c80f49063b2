#!/usr/bin/env python3
"""The engine's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <curation|ingest> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (into `.bench_build/`), later runs reuse the
build while the sources are unchanged. Inputs are generated from the seed.
The harness (`perfbench/src`) runs the workload in a JVM against the
engine's public entry points; this script checks every output and prints
one JSON line: `correct`, `attempted`, `failed` and `metrics` — the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402

try:
    import checks  # noqa: E402  (reads tools/check_oracle.py of the checkout)
except ImportError as e:
    sys.exit(f"perfbench: run from the root of a checkout of the engine ({e})")

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE = os.path.join(ROOT, "src", "main", "scala")
ENTRY = os.path.join(ENGINE, "graft", "SparkEntry.scala")

# The curation queries: the extension families, every STEP-th in name
# order from OFFSET (see README.md for why a subset), plus SHARED, two
# queries that share the IVF cells artifact, so the pass has a cache hit
# to score.
FAMILY = r"^q_(dd|txt|sim|ml|mm)"
STEP, OFFSET = 6, 1
SHARED = ["q_sim11_ivf_recall", "q_sim18_filtered_ann"]
CURATION_SF = 0.01

END_TO_END = {"setup_s": "s", "latency_ms": "ms", "tail_ms": "ms", "rate_per_s": "1/s"}
FAMILIES = ["dd", "txt", "sim", "ml", "mm"]
LAYERS = ["analytics", "operators", "streaming", "util", "spark"]
PER_LAYER = (
    [("analytics.build_ms.extension", "ms"), ("analytics.build_jobs", "count")]
    + [(f"spark.{k}", u) for k, u in [
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("plan_ms", "ms"), ("task_run_s", "s"), ("task_cpu_s", "s"),
        ("shuffle_bytes", "B"), ("gc_s", "s")]]
    + [(f"operators.build_ms.{f}", "ms") for f in FAMILIES]
    + [("operators.memo_hits", "count"), ("operators.memo_misses", "count"),
       ("operators.compact_ms", "ms"), ("operators.compactions", "count"),
       ("operators.landing_ms", "ms"), ("operators.landed_files", "count"),
       ("multimodal.build_ms", "ms"), ("multimodal.action_ms", "ms"),
       ("util.drain_ms", "ms"), ("sources.backlog_rows_max", "count")]
    + [(f"streaming.{k}", u) for k, u in [
        ("query_planning_ms", "ms"), ("add_batch_ms", "ms"), ("wal_commit_ms", "ms"),
        ("state_rows", "count"), ("state_bytes", "B"), ("state_commit_ms", "ms"),
        ("dedup_kept_ratio", "ratio"), ("dead_letter_rows", "count")]]
    + [(f"self_ms.{layer}", "ms") for layer in LAYERS]
    + [("traced.latency_ms", "ms"), ("traced.tail_ms", "ms"),
       ("traced.rate_per_s", "1/s")]
)

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Builds engine + harness when the sources changed; returns the
    runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""),
        f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
        "-Dsbt.server.autostart=false"]).strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def run_jvm(cp, settings, timeout):
    tmp = os.path.join(settings["out"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"] + opens
           + ["-cp", cp, "perfbench.Main"]
           + [f"{k}={v}" for k, v in settings.items()])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, cwd=settings["out"])
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail("harness timed out")
    result = os.path.join(settings["out"], "result.json")
    if proc.returncode != 0 or not os.path.exists(result):
        lines = [x for x in (err or "").splitlines()
                 if x.strip() and not x.lstrip().startswith(("at ", "..."))]
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"harness failed with code {proc.returncode}")
    with open(result) as f:
        return json.load(f)


# ---------------------------------------------------------------- helpers

def pct(xs, p):
    """Percentile by linear interpolation between closest ranks."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def wpct(pairs, p):
    """Percentile of values weighted by counts: pairs of (value, count)."""
    pairs = sorted(pairs)
    total = sum(n for _, n in pairs)
    target = total * p / 100.0
    acc = 0
    for v, n in pairs:
        acc += n
        if acc >= target:
            return v
    return pairs[-1][0] if pairs else 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def query_modules():
    """Query name -> the analytics module its builder lives in, read from
    the engine's SparkEntry."""
    with open(ENTRY) as f:
        src = f.read()
    out = {}
    for name, module in re.findall(r'"(q_\w+)" -> \(?(?:\([^)]*\) => )?(\w+)Queries\.', src):
        out[name] = module.lower()
    return out


def query_set():
    """The curation queries in run order: name order, since in a cold pass
    the order decides which query pays for first-use compilation."""
    names = sorted(n for n in query_modules() if re.match(FAMILY, n))
    return sorted(set(names[OFFSET::STEP]) | set(SHARED))


# ---------------------------------------------------------------- spans

def self_times(spans, layer_of):
    """Per-layer self time: each span's duration minus the part covered by
    its children, summed by the layer its name maps to."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        layer = layer_of(s["name"])
        if layer is None:
            continue
        covered = merge_len([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])],
                            s["start_ms"], s["end_ms"])
        out[layer] += (s["end_ms"] - s["start_ms"]) - covered
    return out


def merge_len(intervals, lo, hi):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_per_op(res, n_ops):
    """Spark work from the listener, per workload operation."""
    sp = res.get("spark", {})
    tot = {}
    for v in sp.get("by_span", {}).values():
        for k, x in v.items():
            tot[k] = tot.get(k, 0) + x
    n = max(n_ops, 1)
    return {
        "spark.jobs": tot.get("jobs", 0) / n,
        "spark.stages": tot.get("stages", 0) / n,
        "spark.tasks": tot.get("tasks", 0) / n,
        "spark.plan_ms": sp.get("plan_ms", 0.0) / n,
        "spark.task_run_s": tot.get("task_run_ms", 0) / 1e3 / n,
        "spark.task_cpu_s": tot.get("task_cpu_ms", 0) / 1e3 / n,
        "spark.shuffle_bytes": tot.get("shuffle_bytes", 0) / n,
        "spark.spill_bytes": tot.get("spill_bytes", 0) / n,
        "spark.gc_s": tot.get("gc_ms", 0) / 1e3 / n,
    }


def host_side(res):
    """Side data of every run: the host reading and every set-up's time."""
    h = res["host_start"]
    return {"host": {"calib_s": h["calib_s"], "calib_shuffle_s": h["calib_shuffle_s"],
                     "loadavg": [h["loadavg"], res["loadavg_end"]]},
            "setup_s_all": res["setup_s"]}


def jobs_in(res, spans, name):
    ids = {str(s["id"]) for s in spans if s["name"] == name}
    return sum(v["jobs"] for k, v in res.get("spark", {}).get("by_span", {}).items()
               if k in ids)


# ---------------------------------------------------------------- workloads

def curation(args, cp, run_dir):
    sf = args.sf or CURATION_SF
    data = datagen.ensure(os.path.join(BUILD, "data", f"sf{sf}-s{args.seed}"), sf, args.seed)
    names = query_set()
    res = run_jvm(cp, {
        "workload": "curation", "data": data, "out": run_dir,
        "trace": args.trace, "seed": args.seed, "queries": ",".join(names)},
        timeout=170)
    ops = res["ops"]
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    t0 = time.time()
    expected = checks.expected_frames(data, oracle, os.path.join(data, "expected"))
    oracle_s = time.time() - t0
    if args.corrupt_expected and expected:
        victim = sorted(expected)[0]
        frame = expected[victim]
        expected[victim] = frame.iloc[:-1] if len(frame) else frame.assign(corrupted=1)
    # Each query is one operation: it fails when it throws or when its
    # result differs from its oracle's.
    failed = 0
    unchecked = []
    for o in ops:
        name = o["name"]
        if o["error"]:
            failed += 1
            log(f"{name}: {o['error'][:300]}")
        elif name not in expected:
            unchecked.append(name)
        else:
            got = checks.spark_frame(os.path.join(run_dir, "results", name))
            ok, msg = (False, "no result") if got is None else checks.compare(got, expected[name])
            if not ok:
                failed += 1
                log(f"{name}: result differs from the oracle: {msg}")
    lat = [o["latency_ms"] for o in ops if not o["error"]]
    # A query board's typical latency is the geometric mean over its
    # queries (as in TPC-H's power metric): every query weighs the same,
    # and it does not jump between neighbouring queries as a median of a
    # few heterogeneous queries does.
    e2e = {
        "setup_s": median(res["setup_s"]),
        "latency_ms": math.exp(statistics.mean(math.log(x) for x in lat)) if lat else 0.0,
        "tail_ms": pct(lat, 90),
        "rate_per_s": len(lat) / res["wall_s"],
    }
    side = {**host_side(res), "queries": len(names), "wall_s": res["wall_s"],
            "latency_ms": {o["name"]: round(o["latency_ms"], 1) for o in ops},
            "unchecked": unchecked, "gc_s": res["gc_s"], "oracle_s": oracle_s}
    layer = {}
    if args.trace:
        mods = query_modules()
        spans = res["spans"]
        n = len(ops)

        def mean_of(sel, key):
            xs = [o[key] for o in ops if sel(o["name"])]
            return statistics.mean(xs) if xs else 0.0
        layer["analytics.build_ms.extension"] = mean_of(
            lambda q: mods.get(q) == "extension", "build_ms")
        layer["analytics.build_jobs"] = jobs_in(res, spans, "build") / max(n, 1)
        layer.update(spark_per_op(res, n))
        for fam in FAMILIES:
            layer[f"operators.build_ms.{fam}"] = mean_of(
                lambda q, f=fam: q.startswith(f"q_{f}"), "build_ms")
        memo = res.get("memo", {})
        layer["operators.memo_hits"] = sum(v["hits"] for v in memo.values())
        layer["operators.memo_misses"] = sum(v["misses"] for v in memo.values())
        layer["multimodal.build_ms"] = mean_of(lambda q: q.startswith("q_mm"), "build_ms")
        layer["multimodal.action_ms"] = mean_of(lambda q: q.startswith("q_mm"), "action_ms")
        layer["util.drain_ms"] = sum(o["drain_ms"] for o in ops)
        st = self_times(spans, lambda s: {"build": "analytics", "action": "spark",
                                          "drain": "util"}.get(s))
        layer.update({f"self_ms.{k}": v / max(n, 1) for k, v in st.items()})
    return e2e, layer, side, len(ops), failed


def ingest(args, cp, run_dir):
    settings = {"workload": "ingest", "data": "-", "out": run_dir,
                "seconds": args.seconds, "trace": args.trace, "seed": args.seed,
                "rate": args.rate, "backlog": args.backlog}
    if args.drop_record >= 0:
        settings["drop_record"] = args.drop_record
    res = run_jvm(cp, settings, timeout=170)
    frames = []
    with open(os.path.join(run_dir, "frames.csv")) as f:
        for line in f:
            seq, chunk, kind, client, count, ts, hum, temp = line.rstrip("\n").split(",")
            frames.append({"seq": int(seq), "chunk": int(chunk), "kind": kind,
                           "client": client, "count": int(count) if count else None,
                           "ts": int(ts) if ts else None,
                           "hum": float(hum) if hum else None,
                           "temp": float(temp) if temp else None})
    chunks = {c["chunk"]: c for c in res["chunks"]}
    prog = {}
    for p in res["progress"]:
        prog.setdefault(p["query"], []).append(p)
    for q in prog.values():
        q.sort(key=lambda p: p["batch"])
    landing = [p for p in prog.get("landing", []) if p["end_offset"] is not None]

    def batch_of(progress):
        """chunk -> index of the batch (in `progress`) that covered it."""
        out = {}
        for i, p in enumerate(progress):
            lo = int(p["start_offset"]) if p["start_offset"] not in (None, "null") else -1
            for k in range(lo + 1, int(p["end_offset"]) + 1):
                out[k] = i
        return out

    def survivors(progress, late):
        """Valid frames a query keeps, in arrival order. A batch drops the
        frames `late(ts, wm)` calls late, where wm is the watermark the
        batch before it ran with (Spark filters late rows one batch
        behind the watermark it evicts state with); a batch runs with
        the max event time of the batches before it minus 10 minutes."""
        b_of = batch_of(progress)
        by_batch = {}
        for fr in frames:
            if fr["kind"] != "m" and fr["chunk"] in b_of:
                by_batch.setdefault(b_of[fr["chunk"]], []).append(fr)
        out, max_ts, wm = [], None, []
        for b in range(len(progress)):
            wm.append(None if max_ts is None else max_ts - 600)
            late_wm = wm[b - 1] if b > 0 else None
            rows = by_batch.get(b, [])
            out += [fr for fr in rows if late_wm is None or not late(fr["ts"], late_wm)]
            if rows:
                mx = max(fr["ts"] for fr in rows)
                max_ts = mx if max_ts is None else max(max_ts, mx)
        return out

    # dropDuplicatesWithinWatermark drops rows at or before the watermark;
    # the hourly window drops rows whose window ends at or before it.
    expect = {}
    for fr in survivors(landing, lambda ts, wm: ts <= wm):
        expect.setdefault((fr["client"], fr["count"]), fr)
    hourly = [p for p in prog.get("hourly", []) if p["end_offset"] is not None]
    n_groups, hourly_bad = check_hourly(
        survivors(hourly, lambda ts, wm: ts - ts % 3600 + 3600 <= wm), res["hourly"])
    landed = checks.landed_keys(res["landing_dir"], res["compacted_dir"])
    seen = {}
    for key in landed:
        seen[key] = seen.get(key, 0) + 1
    missing = [k for k in expect if k not in seen]
    dup = [k for k, n in seen.items() if n > 1]
    extra = [k for k in seen if k not in expect]
    n_malformed = sum(1 for fr in frames if fr["kind"] == "m")
    for what, xs in [("missing", missing), ("landed twice", dup),
                     ("landed but excluded", extra)]:
        if xs:
            log(f"ingest: {len(xs)} records {what}, e.g. {xs[:3]}")
    if res["dead_letters"] != n_malformed:
        log(f"ingest: dead letters {res['dead_letters']} != malformed {n_malformed}")
    if hourly_bad:
        log(f"ingest: {hourly_bad} hourly aggregates differ from the batch recomputation")
    # Operations are the frames and the hourly aggregates; each counts
    # once. A valid frame fails when its key is missing, landed twice or
    # landed though it should be excluded; a malformed frame fails when it
    # is not dead-lettered (a valid frame dead-lettered is also missing).
    seqs = {}
    for fr in frames:
        if fr["kind"] != "m":
            seqs.setdefault((fr["client"], fr["count"]), []).append(fr["seq"])
    bad_frames = set()
    for k in missing + dup + extra:
        bad_frames.update(seqs.get(k, [k]))
    failed = (len(bad_frames) + max(0, n_malformed - res["dead_letters"])
              + hourly_bad)

    # Latency: a record's creation (its chunk's due time) to the commit of
    # the landing batch that holds it.
    b_of = batch_of(landing)
    commit = [p["start_ms"] + p["duration_ms"].get("triggerExecution", 0) for p in landing]
    lat, drained = [], {}
    for k, c in chunks.items():
        if k not in b_of:
            continue
        if c["phase"] == "latency":
            lat.append((commit[b_of[k]] - c["due_ms"], c["n"]))
        elif c["phase"] == "drain":
            drained[b_of[k]] = drained.get(b_of[k], 0) + c["n"]
    # Drain throughput: the median over the drain's landing batches of
    # backlog frames per second of batch time (the wait for the next
    # trigger is not work). A median, so a burst of host load that slows
    # one batch does not move it; a compaction batch is one in three, so
    # compaction cost shows in tail_ms, not here.
    drain_ms = {b: landing[b]["duration_ms"].get("triggerExecution", 0) for b in drained}
    e2e = {
        "setup_s": median(res["setup_s"]),
        "latency_ms": wpct(lat, 50),
        "tail_ms": wpct(lat, 90),
        "rate_per_s": median([n / (drain_ms[b] / 1e3) for b, n in drained.items()]),
    }
    side = {**host_side(res), "records": len(frames),
            "latency_records": sum(n for _, n in lat),
            "landing_batches": len(landing), "drain_batch_ms": sorted(drain_ms.values()),
            "generator_late_ms_max": max(c["added_ms"] - c["due_ms"] for c in chunks.values()
                                         if c["phase"] == "latency")}
    layer = {}
    if args.trace:
        lat_phase = [landing[b] for b in sorted({b_of[k] for k, c in chunks.items()
                                                 if c["phase"] == "latency" and k in b_of})]

        def dur(key):
            return median([p["duration_ms"].get(key, 0) for p in lat_phase])
        layer["streaming.query_planning_ms"] = dur("queryPlanning")
        layer["streaming.add_batch_ms"] = dur("addBatch")
        layer["streaming.wal_commit_ms"] = dur("walCommit")
        last = lat_phase[-1]["state"][0] if lat_phase and lat_phase[-1]["state"] else {}
        layer["streaming.state_rows"] = last.get("rows", 0)
        layer["streaming.state_bytes"] = last.get("bytes", 0)
        layer["streaming.state_commit_ms"] = median(
            [p["state"][0]["commit_ms"] for p in lat_phase if p["state"]])
        valid = sum(1 for fr in frames if fr["kind"] != "m")
        layer["streaming.dedup_kept_ratio"] = len(landed) / max(valid, 1)
        layer["streaming.dead_letter_rows"] = res["dead_letters"]
        calls = res["sink_calls"]
        comp = [c["end_ms"] - c["start_ms"] for c in calls if c["compacted"]]
        plain = [c for c in calls if not c["compacted"]]
        layer["operators.compact_ms"] = median(comp)
        layer["operators.compactions"] = len(comp)
        layer["operators.landing_ms"] = median([c["end_ms"] - c["start_ms"] for c in plain])
        layer["operators.landed_files"] = median(
            [c["files_after"] - c["files_before"] for c in plain])
        # Backlog: frames added but not yet covered by a committed batch,
        # sampled at each commit of the latency phase.
        backlog = []
        for i, p in enumerate(lat_phase):
            t = p["start_ms"] + p["duration_ms"].get("triggerExecution", 0)
            added = sum(c["n"] for c in chunks.values() if c["added_ms"] <= t)
            covered = sum(chunks[k]["n"] for k, b in b_of.items()
                          if landing[b]["start_ms"] + landing[b]["duration_ms"].get(
                              "triggerExecution", 0) <= t)
            backlog.append(max(0, added - covered))
        layer["sources.backlog_rows_max"] = max(backlog) if backlog else 0
        n_batches = max(len([p for p in landing if p["rows"] > 0]), 1)
        layer.update(spark_per_op(res, n_batches))
        # Micro-batch spans from the landing query's progress; each batch's
        # sink call (traced by the harness) is its child.
        base = 10 ** 9
        spans = [dict(s, parent=base + int(s["req"].split(":")[1]))
                 if s["name"] == "sink.landing" else s for s in res["spans"]]
        for p in landing:
            end = p["start_ms"] + p["duration_ms"].get("triggerExecution", 0)
            spans.append({"id": base + p["batch"], "parent": 0, "name": "micro_batch",
                          "start_ms": p["start_ms"], "end_ms": end})
        st = self_times(spans, lambda s: {"micro_batch": "streaming",
                                          "sink.landing": "operators"}.get(s))
        layer.update({f"self_ms.{k}": v / n_batches for k, v in st.items()})
    return e2e, layer, side, len(frames) + n_groups, failed


def check_hourly(kept_frames, rows):
    """Hourly groups checked, and how many of them are missing, extra, or
    differ from the batch recomputation over the frames the stream kept."""
    want = {}
    for fr in kept_frames:
        hour = time.strftime("%Y-%m-%d-%H", time.gmtime(fr["ts"]))
        g = want.setdefault((hour, fr["client"]), [0.0, 0.0, -1e300, -1e300, 0])
        g[0] += fr["temp"]
        g[1] += fr["hum"]
        g[2] = max(g[2], fr["temp"])
        g[3] = max(g[3], fr["hum"])
        g[4] += 1
    got = {(r["hour"], r["client_id"]): r for r in rows}
    bad = len(set(want) ^ set(got))
    for key in set(want) & set(got):
        g, r = want[key], got[key]
        n = g[4]
        ok = (r["n"] == n and r["max_temperature"] == g[2] and r["max_humidity"] == g[3]
              and abs(r["avg_temperature"] - g[0] / n) <= 1e-9 * max(1.0, abs(g[0] / n))
              and abs(r["avg_humidity"] - g[1] / n) <= 1e-9 * max(1.0, abs(g[1] / n)))
        bad += 0 if ok else 1
    return len(set(want) | set(got)), bad


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["curation", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float,
                    help=f"curation: scale factor of the generated tables (default {CURATION_SF})")
    ap.add_argument("--rate", type=float, default=1000.0,
                    help="ingest: frames per second in the fixed-rate phase, one per "
                         "simulated sensor")
    ap.add_argument("--backlog", type=int, default=60000,
                    help="ingest: frames in the drained backlog")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: corrupt one expected query result")
    ap.add_argument("--drop-record", type=int, default=-1,
                    help="self-test: never send the frame with this sequence number")
    args = ap.parse_args()
    if not os.path.exists(ENTRY) or not os.path.isdir(os.path.join(HERE, "src")):
        fail("run from the root of a checkout that holds the engine's sources (src/)")
    os.makedirs(BUILD, exist_ok=True)
    cp = classpath()
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        fn = {"curation": curation, "ingest": ingest}
        e2e, layer, side, attempted, failed = fn[args.workload](args, cp, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        layer["traced.latency_ms"] = e2e["latency_ms"]
        layer["traced.tail_ms"] = e2e["tail_ms"]
        layer["traced.rate_per_s"] = e2e["rate_per_s"]
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print("side " + json.dumps(side, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
