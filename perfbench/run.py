#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, checked and measured.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the system and
the benchmark's JVM entry point from source with sbt (offline); later runs
reuse the build while the sources are unchanged. Workloads, metrics and the
layer table are described in perfbench/README.md.

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. Untraced runs (--trace 0) report the end-to-end
metrics; traced runs (--trace 1) report the per-layer metrics. A full record
of the run (conditions, checks, every metric) is written to
.bench_build/perfbench/results/.
"""
import argparse
import asyncio
import bisect
import contextlib
import hashlib
import io
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("live_steady", "live_wave", "batch_inventory")
# set-ups per run; setup_s is their median. Only the first is cold (JVM and
# Spark start); the warm ones repeat all of GraftApp.start and its first
# batch, so work moved there shows against a ~1.5 s base, not a ~15 s one
SETUPS = 3
RUN_LIMIT_S = 170          # a run must finish within this (the build aside)
STOP_BOUND_MS = 30000      # GraftApp.shutdown must return within this
BATCH_SF = 0.01            # batch tables: lineitem 60k rows
WARMUP_QUERY = "ru_engine"

sys.path.insert(0, HERE)

# the JDK 17 module opens Spark needs outside spark-submit (the same list
# the repository's build passes to forked runs)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def pct(xs, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def med(xs):
    return statistics.median(xs) if xs else 0.0


# ---- build --------------------------------------------------------------

def source_stamp():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "jvm")]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark entry point; return the classpath."""
    os.makedirs(STATE, exist_ok=True)
    cp_file, stamp_file = os.path.join(STATE, "classpath"), os.path.join(STATE, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read()
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "jvm"), env=env, capture_output=True, text=True,
        timeout=850)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        die("build failed")
    cp = out.stdout.strip().splitlines()[-1].strip()
    open(cp_file, "w").write(cp)
    open(stamp_file, "w").write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# ---- run conditions -----------------------------------------------------

def java_pids():
    pids = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                if open(f"/proc/{p}/comm").read().strip() == "java":
                    pids.append(int(p))
            except OSError:
                pass
    return pids


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except OSError:
        return "none"


def conditions(seed, cpus):
    return {"nproc": cpus, "loadavg_start": os.getloadavg(), "other_jvms": len(java_pids()),
            "commit": commit(), "source_stamp": source_stamp(), "seed": seed}


# ---- the JVM ------------------------------------------------------------

def run_jvm(cp, mode, args, mem, logf, deadline):
    """Launch BenchMain and wait for it; kill it at `deadline`."""
    tmp = os.path.join(STATE, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{mem}", f"-Xmx{mem}", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.BenchMain",
           "--mode", mode, "--tmp", tmp, "--launch-ms", str(int(time.time() * 1000))]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(logf, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=lf, cwd=STATE)
        # a harness that is itself stopped takes the JVM down with it
        signal.signal(signal.SIGTERM, lambda *_: (proc.kill(), proc.wait(), sys.exit(143)))
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            log(f"JVM killed at the run deadline; log: {logf}")
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def read_spans(path):
    spans = []
    if os.path.exists(path):
        with open(path) as f:
            spans = [json.loads(line) for line in f if line.strip()]
    return spans


# ---- live workloads -------------------------------------------------------

def write_rules(rules_dir, rules):
    """The rule store in RuleStore's on-disk format (a JSON dataset)."""
    os.makedirs(rules_dir)
    with open(os.path.join(rules_dir, "part-00000.json"), "w") as f:
        for r in rules:
            f.write(json.dumps({k: v for k, v in r.items() if v is not None}) + "\n")


def run_live(a, cp, cpus, deadline):
    import livegen
    plan = livegen.make_plan(a.workload, a.seed, a.seconds)
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    for k in range(1, SETUPS + 1):
        write_rules(os.path.join(work, f"instance{k}", "rules"), plan["rules"])
    loop = asyncio.new_event_loop()
    ready, box = threading.Event(), {}

    def serve():
        asyncio.set_event_loop(loop)
        box["gen"] = livegen.LiveGen(plan)
        loop.run_until_complete(box["gen"].start())
        ready.set()
        loop.run_forever()

    th = threading.Thread(target=serve, name="livegen", daemon=True)
    th.start()
    ready.wait()
    gen = box["gen"]
    out, spans_path = os.path.join(STATE, "result.json"), os.path.join(STATE, "spans.jsonl")
    for p in (out, spans_path):
        if os.path.exists(p):
            os.remove(p)
    rc = run_jvm(cp, "live", {
        "gen": f"http://127.0.0.1:{gen.port}", "work": work, "setups": SETUPS,
        "stop-bound-ms": STOP_BOUND_MS, "trace": a.trace, "cpus": cpus,
        "out": out, "spans": spans_path}, "2g", os.path.join(STATE, "jvm.log"), deadline)
    asyncio.run_coroutine_threadsafe(gen.stop(), loop).result(10)
    loop.call_soon_threadsafe(loop.stop)
    th.join(10)
    loop.close()
    res = json.load(open(out)) if os.path.exists(out) else {"error": "no result"}
    if rc != 0 or res.get("error"):
        die(f"live run failed (exit {rc}): {res.get('error')}; log: "
            f"{os.path.join(STATE, 'jvm.log')}", 3)
    return evaluate_live(plan, gen, res, read_spans(spans_path) if a.trace else None)


def evaluate_live(plan, gen, res, spans):
    import livegen
    t0 = gen.t0
    checks = {"missing": 0, "duplicate": 0, "unexpected": 0, "wrong_reply": 0,
              "missing_reply": 0, "stream_died": int(bool(res.get("stream_error")))}
    first = {}
    action_times = []
    for t, to, _, content in gen.posts:
        if to == "mod":
            continue
        key = livegen.LiveGen.parse_action(content) if to == "notify" else None
        if key is None:
            checks["unexpected"] += 1
        elif key in first:
            checks["duplicate"] += 1
        else:
            first[key] = t
            action_times.append(t)
    t_from = t0 + plan["timed_from"]
    lat, last = [], t_from
    for key, t in first.items():
        if key in gen.expected:
            sent_at = t0 + gen.expected[key]
            if sent_at >= t_from:
                lat.append((t - sent_at) * 1000.0)
                last = max(last, t)
        elif not (key in gen.delayed and t - (t0 + gen.delayed[key]) >= livegen.MIN_HOLD_S):
            checks["unexpected"] += 1
    checks["missing"] = sum(1 for k in gen.expected if k not in first)
    replies = [(t, c) for t, to, _, c in gen.posts if to == "mod"]
    cmd_done = []                      # (group, due, reply arrived), monotonic
    for i, c in enumerate(plan["commands"]):
        if i >= len(replies):
            checks["missing_reply"] += 1
            continue
        t, text = replies[i]
        if not livegen.check_reply(c, text):
            checks["wrong_reply"] += 1
            log(f"wrong reply to {c['text']!r}: {text!r}")
        cmd_done.append((c["group"], t0 + c["at"], t))
    n_actions, n_cmds = len(gen.expected), len(plan["commands"])
    failed = sum(checks.values())
    if not lat:
        die("no timed actions", 3)
    total = last - t_from
    e2e = {
        "setup_s": med(res["setup_ms"]) / 1000.0,
        "latency_ms": statistics.median(lat), "latency_p90_ms": pct(lat, 90),
        "total_s": total, "rss_peak_mb": res["rss_peak_kb"] / 1024.0}
    info = {"checks": checks, "timed_actions": len(lat), "commands": n_cmds,
            "wave_signups_per_s": (sum(1 for o, _ in plan["sends"] if o >= plan["timed_from"])
                                   / total if plan["workload"] == "live_wave" else None),
            "setup_ms": res["setup_ms"], "stop_ms": res["stop_ms"],
            "late_ms_max": max((act - sch) * 1000.0 for _, sch, act in gen.sent),
            "post_gaps_ms": [round(x, 1) for x in statistics.quantiles(
                [(b - a) * 1000.0 for a, b in zip(sorted(action_times), sorted(action_times)[1:])],
                n=10)] if len(action_times) > 10 else []}
    layers = None
    if spans is not None:
        layers = live_layers(plan, gen, res, spans, action_times, cmd_done, e2e, info)
    return n_actions + n_cmds, failed, e2e, layers, info


def live_layers(plan, gen, res, spans, action_times, cmd_done, e2e, info):
    """Per-layer metrics of the measured GraftApp instance (see README)."""
    progress = [s["p"] for s in spans if s["kind"] == "progress"
                and any("HttpNdjson" in src.get("description", "") for src in s["p"]["sources"])]
    # the measured instance is the last one started; its batch ids restart at 0
    run_id = progress[-1]["runId"] if progress else None
    measured = f"instance{SETUPS}"
    t_from = gen.epoch0 + plan["timed_from"]
    all_progress = [p for p in progress if p["runId"] == run_id]
    progress = [p for p in all_progress if
                iso_epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1e3
                >= t_from]
    acts = [s for s in spans if s["kind"] == "action" and s["span"] == measured]
    by_batch = {}
    for s in acts:
        if s["batch"] >= 0:
            by_batch.setdefault(s["batch"], []).append(s)

    def kind(s):
        w, r = " ".join(s["writes"]), " ".join(s["reads"])
        if "/events" in w:
            return "events_append"
        if "/pending" in w:
            return "pending_stage"
        if "/dispatched" in w:
            return "dispatch_log"
        if "/rules" in w:
            return "rules_write"
        if "/rules" in r and s["func"] == "localCheckpoint":
            return "rules_reload"
        if "/pending" in r and s["func"] == "head":
            return "clock"
        if "/pending" in r and s["func"] == "collect":
            return "due_select"
        return "other"

    per = {k: [] for k in ("events_append", "pending_stage", "clock", "due_select",
                           "dispatch_log", "spark")}
    trig, engine, outside, rows = [], [], [], []
    # only the measured instance's batches: its progress carries the ids
    for p in progress:
        d = p["durationMs"]
        trig.append(d.get("triggerExecution", 0))
        engine.append(d.get("triggerExecution", 0) - d.get("addBatch", 0))
        rows.append(p["numInputRows"])
        mine = by_batch.get(p["batchId"], [])
        sums = {k: 0.0 for k in per}
        for s in mine:
            k = kind(s)
            if k in sums:
                sums[k] += s["ms"]
            sums["spark"] += s["ms"]
        for k in per:
            per[k].append(sums[k])
        outside.append(d.get("addBatch", 0) - sums["spark"])
    # backlog: lines the generator had written but the engine had not yet
    # taken into a batch, sampled at each batch's start. `consumed` counts
    # every earlier batch of the measured query, warm-up included, less the
    # one greeting line, which the feed sends before the schedule starts.
    sent_epoch = sorted(gen.epoch0 + (act - gen.t0) for _, _, act in gen.sent)
    batch_rows = {q["batchId"]: q["numInputRows"] for q in all_progress}
    backlog = []
    for p in progress:
        ts = iso_epoch(p["timestamp"])
        n_sent = bisect.bisect_right(sent_epoch, ts)
        consumed = sum(n for b, n in batch_rows.items() if b < p["batchId"]) - 1
        backlog.append(max(0, n_sent - consumed))
    # a command's own Spark time: the actions outside any micro-batch that
    # ended after it reached the bot (or after the previous reply, as the bot
    # handles commands one at a time) and before its reply arrived. The
    # expiry sweep, once per 15 s, is the only other source of such actions.
    free = sorted((s["end_ms"] / 1000.0, s["ms"]) for s in acts
                  if s["batch"] < 0 and s["end_ms"] > 0)
    ends = [e for e, _ in free]
    epoch = lambda mono: gen.epoch0 + (mono - gen.t0)
    cmd_spark = {"seen": [], "read": [], "mutate": []}
    prev_reply = gen.t0
    for group, due, reply in cmd_done:
        lo = bisect.bisect_right(ends, epoch(max(due, prev_reply)))
        hi = bisect.bisect_right(ends, epoch(reply))
        cmd_spark[group].append(sum(ms for _, ms in free[lo:hi]))
        prev_reply = reply
    reply_ms = [(reply - due) * 1000.0 for _, due, reply in cmd_done]
    gaps = [(b - a) * 1000.0 for a, b in zip(sorted(action_times), sorted(action_times)[1:])
            if (b - a) < 0.3]
    third = max(1, len(trig) // 3)
    reloads = [s["ms"] for s in acts if kind(s) == "rules_reload" and s["batch"] >= 0]
    writes = [s["ms"] for s in acts if kind(s) == "rules_write"]
    stages = [s for s in spans if s["kind"] == "stages" and s["span"] == measured]
    return {
        "sources.backlog_lines_p50": med(backlog),
        "sources.backlog_lines_max": max(backlog or [0]),
        "sources.rows_per_batch_p50": med(rows),
        "streaming.trigger_ms_p50": med(trig),
        "streaming.trigger_ms_p99": pct(trig, 99) if trig else 0,
        "streaming.trigger_ms_first_third": med(trig[:third]),
        "streaming.trigger_ms_last_third": med(trig[-third:]),
        "streaming.engine_ms_p50": med(engine),
        "streaming.events_append_ms_p50": med(per["events_append"]),
        "streaming.pending_stage_ms_p50": med(per["pending_stage"]),
        "streaming.clock_ms_p50": med(per["clock"]),
        "streaming.due_select_ms_p50": med(per["due_select"]),
        "streaming.dispatch_log_ms_p50": med(per["dispatch_log"]),
        "streaming.outside_spark_ms_p50": med(outside),
        "streaming.state_files_end": res["state_files_end"],
        "streaming.state_mb_end": res["state_bytes_end"] / 2**20,
        "zulip.action_posts": len(action_times),
        "zulip.post_gap_ms_p50": med(gaps),
        "zulip.poll_wait_ms_p50": med([w * 1000.0 for w in gen.poll_waits]),
        "rules.reload_ms_p50": med(reloads),
        "rules.store_writes": len(writes),
        "rules.store_write_ms_p50": med(writes),
        "rules.matched_rows": sum(s["rows"] for s in acts if kind(s) == "pending_stage"),
        "commands.seen_ms_p50": med(cmd_spark["seen"]),
        "commands.read_ms_p50": med(cmd_spark["read"]),
        "commands.mutate_ms_p50": med(cmd_spark["mutate"]),
        "commands.reply_ms_p50": med(reply_ms),
        "commands.reply_ms_p90": pct(reply_ms, 90) if reply_ms else 0,
        **spark_totals(stages, acts),
        "jvm.gc_ms": res["gc_ms"],
        "jvm.cold_setup_s": res["setup_ms"][0] / 1000.0,
        "generator.late_ms_max": info["late_ms_max"],
        "trace.latency_ms": e2e["latency_ms"],
        "trace.total_s": e2e["total_s"],
    }


def iso_epoch(s):
    """Epoch seconds of a StreamingQueryProgress timestamp."""
    return datetime.strptime(s.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def spark_totals(stages, acts):
    return {
        "spark.stages": sum(s["stages"] for s in stages),
        "spark.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 2**20,
        "spark.spill_mb": sum(s["spill_bytes"] for s in stages) / 2**20,
        "spark.exchanges": sum(s["exchanges"] for s in acts),
    }


# ---- batch workload -------------------------------------------------------

# module of each batch query: the package its SparkEntry entry lives in
MODULES = ["relational", "events", "rules", "enrich", "commands", "dedup", "sim", "text",
           "sample", "streaming", "multimodal", "pipeline", "sources", "web"]
NAMED = {"text.tx_feature_hash_s": "tx_feature_hash", "text.tx_gopher_s": "tx_gopher",
         "text.tx_repetition_s": "tx_repetition", "relational.q_table_hash_s": "q_table_hash",
         "relational.q_fd_discover_s": "q_fd_discover", "relational.q1_agg_s": "q1_agg"}


def batch_queries():
    """The query names listed in perfbench/batch_queries.txt."""
    with open(os.path.join(HERE, "batch_queries.txt")) as f:
        return [n for n in (line.split("#", 1)[0].strip() for line in f) if n]


def run_batch(a, cp, cpus, deadline):
    import datagen
    data = os.path.join(STATE, "data")
    shutil.rmtree(data, ignore_errors=True)
    datagen.generate(data, a.seed, BATCH_SF)
    qs = batch_queries()
    qfile = os.path.join(STATE, "queries.txt")
    open(qfile, "w").write("\n".join(qs) + "\n")
    answers = os.path.join(STATE, "answers")
    shutil.rmtree(answers, ignore_errors=True)
    os.makedirs(answers)
    out, spans_path = os.path.join(STATE, "result.json"), os.path.join(STATE, "spans.jsonl")
    for p in (out, spans_path):
        if os.path.exists(p):
            os.remove(p)
    rc = run_jvm(cp, "batch", {
        "sf-dir": data, "answers": answers, "queries": qfile, "setups": SETUPS,
        "warmup": WARMUP_QUERY, "trace": a.trace, "cpus": cpus, "out": out,
        "spans": spans_path}, "3g", os.path.join(STATE, "jvm.log"), deadline)
    res = json.load(open(out)) if os.path.exists(out) else {"error": "no result"}
    if rc != 0 or res.get("error"):
        die(f"batch run failed (exit {rc}): {res.get('error')}; log: "
            f"{os.path.join(STATE, 'jvm.log')}", 3)
    verdict = oracle_check(data, answers, [q["name"] for q in res["queries"]])
    failed = []
    for q in res["queries"]:
        if q["error"] or not verdict.get(q["name"], False):
            failed.append(q["name"])
            log(f"query {q['name']} failed: {q['error'] or 'oracle mismatch'}")
    times = [q["total_ms"] for q in res["queries"]]
    # a handful of unlike queries has no stable median; their typical
    # latency is the geometric mean (batch_geomean_ms)
    e2e = {"setup_s": med(res["setup_ms"]) / 1000.0,
           "latency_ms": math.exp(sum(math.log(max(t, 1e-3)) for t in times) / len(times)),
           "latency_p90_ms": pct(times, 90),
           "total_s": sum(times) / 1000.0, "rss_peak_mb": res["rss_peak_kb"] / 1024.0}
    info = {"queries": {q["name"]: round(q["total_ms"], 1) for q in res["queries"]},
            "build_ms": {q["name"]: round(q["build_ms"], 1) for q in res["queries"]},
            "failed_queries": failed, "setup_ms": res["setup_ms"]}
    layers = None
    if a.trace:
        layers = batch_layers(res, read_spans(spans_path), e2e)
    return len(res["queries"]), len(failed), e2e, layers, info


def oracle_check(data, answers, names):
    """tools/check.py's comparison (DuckDB oracle, pandas canonical form)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(data, answers, set(names))
    verdict = {}
    for line in buf.getvalue().splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("OK", "OK?", "FAIL"):
            verdict[parts[1].rstrip(":")] = parts[0] != "FAIL"
    return verdict


def batch_layers(res, spans, e2e):
    mod_of = {q["name"]: q["module"] for q in res["queries"]}
    acts = [s for s in spans if s["kind"] == "action"]
    stages = [s for s in spans if s["kind"] == "stages" and s["span"] in mod_of]
    out = {}
    for m in MODULES:
        names = {n for n, mm in mod_of.items() if mm == m}
        out[f"{m}.queries_s"] = sum(q["total_ms"] for q in res["queries"]
                                    if q["name"] in names) / 1000.0
        out[f"{m}.plan_s"] = sum(s["plan_ms"] for s in acts if s["span"] in names) / 1000.0
    t = {q["name"]: q["total_ms"] / 1000.0 for q in res["queries"]}
    out.update({k: t.get(n, 0.0) for k, n in NAMED.items()})
    out.update(spark_totals(stages, [s for s in acts if s["span"] in mod_of]))
    out["jvm.gc_ms"] = res["gc_ms"]
    out["jvm.cold_setup_s"] = res["setup_ms"][0] / 1000.0
    out["trace.latency_ms"] = e2e["latency_ms"]
    out["trace.total_s"] = e2e["total_s"]
    return out


# every per-layer metric with its unit, printed on every traced run (0 where
# the workload does not exercise that layer)
PER_LAYER = dict(
    [("sources.backlog_lines_p50", "lines"), ("sources.backlog_lines_max", "lines"),
     ("sources.rows_per_batch_p50", "rows")]
    + [(f"streaming.{k}", "ms") for k in (
        "trigger_ms_p50", "trigger_ms_p99", "trigger_ms_first_third", "trigger_ms_last_third",
        "engine_ms_p50", "events_append_ms_p50", "pending_stage_ms_p50", "clock_ms_p50",
        "due_select_ms_p50", "dispatch_log_ms_p50", "outside_spark_ms_p50")]
    + [("streaming.state_files_end", "count"), ("streaming.state_mb_end", "MB"),
       ("zulip.action_posts", "count"), ("zulip.post_gap_ms_p50", "ms"),
       ("zulip.poll_wait_ms_p50", "ms"), ("rules.reload_ms_p50", "ms"),
       ("rules.store_writes", "count"), ("rules.store_write_ms_p50", "ms"),
       ("rules.matched_rows", "rows")]
    + [(f"commands.{k}", "ms") for k in (
        "seen_ms_p50", "read_ms_p50", "mutate_ms_p50", "reply_ms_p50", "reply_ms_p90")]
    + [(f"{m}.{k}", "s") for m in MODULES for k in ("queries_s", "plan_s")]
    + [(k, "s") for k in NAMED]
    + [("spark.stages", "count"), ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
       ("spark.exchanges", "count"), ("jvm.gc_ms", "ms"), ("jvm.cold_setup_s", "s"),
       ("generator.late_ms_max", "ms"),
       ("trace.latency_ms", "ms"), ("trace.total_s", "s")])

E2E_UNITS = {"setup_s": "s", "latency_ms": "ms", "latency_p90_ms": "ms",
             "total_s": "s", "rss_peak_mb": "MB"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no graft sources next to perfbench/: run from the root of a graft checkout")
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    cpus = len(os.sched_getaffinity(0))
    cond = conditions(a.seed, cpus)
    if a.workload.startswith("live"):
        attempted, failed, e2e, layers, info = run_live(a, cp, cpus, deadline)
    else:
        attempted, failed, e2e, layers, info = run_batch(a, cp, cpus, deadline)
    cond["loadavg_end"] = os.getloadavg()
    if a.trace:
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    rec_dir = os.path.join(STATE, "results")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump({"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                   "conditions": cond, "e2e": e2e, "layers": layers, "info": info,
                   "result": result}, f, indent=1)
    log(f"conditions {json.dumps(cond)}")
    log(f"info {json.dumps(info)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
