#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client driving one Graft
workload through the engine's own entry points, timed from outside.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

It builds the engine and the harness from source (scalac from the Spark
distribution, no sbt), generates the workload's inputs from the seed,
runs the JVM harness (`graft.perfbench.Harness`) with Spark at
local[nproc], checks every operation's output, and prints one JSON line
of details followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones (see BENCHMARK.json and perfbench/README.md).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import verify  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# A fixed heap and young generation: with adaptive sizing the peak
# resident set spread by a quarter across runs.
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
# What each workload's timed operation is, and its unit of work.
PRIMARY = {"rag_qa": "question", "lake_upsert": "read", "analytics_mix": "query",
           "corpus_pipeline": "repetition"}
JVM_TIMEOUT_S = 160


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it; on timeout
    the whole group is killed and reaped."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"timed out after {timeout} s: {cmd[:3]}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("no Spark distribution: set SPARK_HOME")
    return os.path.join(home, "jars")


def java():
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else "java"


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BenchError(f"engine sources not found under {main}")
    files = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compiles engine + harness into one jar, then records a class-data
    sharing archive from a short training run (JVM start-up is a large
    share of set-up on small boxes). Skipped when the sources, the JDK
    and the Spark jars are unchanged since the last build."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    h.update(java().encode())
    key = h.hexdigest()
    stamp = os.path.join(BUILD, "key")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return key
    log("building engine and harness from source")
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    rc = run_proc([java(), "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                   "-d", classes, "-cp", cp] + files, timeout=600,
                  stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        raise BenchError("compilation failed")
    with zipfile.ZipFile(os.path.join(BUILD, "app.jar"), "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(classes):
            for f in fs:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    # training run for the class-data sharing archive (best effort)
    try:
        data = inputs("lake_upsert", 0)
        harness("lake_upsert", 0, 0.1, 0, data, setup_reps=1,
                extra_jvm=[f"-XX:ArchiveClassesAtExit={os.path.join(BUILD, 'app.jsa')}"])
    except BenchError as e:
        log(f"no class-data sharing archive: {e}")
    with open(stamp, "w") as f:
        f.write(key)
    return key


def inputs(workload, seed):
    """Generated once per (workload, seed, generator version)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        ver = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(WORK, "data", f"{workload}-{seed}-{ver}")
    if not os.path.exists(os.path.join(d, "inputs.json")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d)
    return d


def ncpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def private_tmp_supported():
    try:
        return subprocess.run(["unshare", "-m", "true"], capture_output=True,
                              timeout=10).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def harness(workload, seed, seconds, trace, data, setup_reps=3, extra=(), extra_jvm=()):
    """Runs the JVM side with fresh per-run state: the work dir is wiped,
    and the engine's /tmp state lands in the work dir (a private mount
    of /tmp when the kernel allows one)."""
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "out"), os.path.join(work, "spark-local")):
        os.makedirs(d)
    jsa = os.path.join(BUILD, "app.jsa")
    cmd = [java()] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        *HEAP, "-Xss8m", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if os.path.exists(jsa) and not extra_jvm:
        cmd.append(f"-XX:SharedArchiveFile={jsa}")
    cmd += list(extra_jvm) + [
        "-cp", os.path.join(BUILD, "app.jar") + os.pathsep + os.path.join(spark_jars(), "*"),
        "graft.perfbench.Harness", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--data", data, "--work", work,
        "--cpus", str(ncpus()), "--setup-reps", str(setup_reps)] + list(extra)
    if private_tmp_supported():
        cmd = ["unshare", "-m", "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"', tmp] + cmd
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        rc = run_proc(cmd, timeout=JVM_TIMEOUT_S, stdout=logf, stderr=logf, env=env, cwd=work)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-1500:]
        raise BenchError(f"harness exited {rc}: {tail}")
    ops = [json.loads(l) for l in open(os.path.join(work, "ops.jsonl"))]
    run = json.load(open(os.path.join(work, "run.json")))
    return work, ops, run


def tail_pct(n):
    """The highest percentile with at least 10 samples beyond it (p50
    when there are fewer than 20 samples)."""
    return max(50, int(100 * (1 - 10 / n))) if n else 50


def pct(xs, p):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(workload, ops, run, good):
    prim = [o for o in good if o["kind"] == PRIMARY[workload]]
    lat = [o["s"] for o in prim]
    if not lat:
        raise BenchError(f"no correct {PRIMARY[workload]} operation in the window")
    p = tail_pct(len(lat))
    if workload == "lake_upsert":
        wr = [o for o in good if o["kind"] in ("write", "compact")]
        items = sum(o["out"].get("rows", 0) for o in wr) / sum(o["s"] for o in wr)
    elif workload == "corpus_pipeline":
        items = run["detail"]["docs"] * len(lat) / sum(lat)
    else:
        items = len(lat) / sum(lat)
    setup = run["session_s"] + med(run["setup_reps_s"]) + run["warmup_s"]
    metrics = {
        "setup_s": (setup, "s"),
        "op_p50_s": (med(lat), "s"),
        "op_tail_s": (pct(lat, p), "s"),
        "items_per_s": (items, "1/s"),
        "peak_rss_mb": (run["peak_rss_mb"], "MB"),
    }
    samples = {"op_p50_s": len(lat), "op_tail_s": len(lat), "items_per_s": len(lat),
               "setup_s": len(run["setup_reps_s"]), "peak_rss_mb": 1}
    return metrics, samples, p


def workload_detail(workload, ops, run, good):
    """The workload's own end-to-end figures, under the names the design
    uses for them."""
    by = lambda k: [o["s"] for o in good if o["kind"] == k]  # noqa: E731
    d = {}
    parts = run["setup_parts"]
    for k in (parts[0] if parts else {}):
        d[f"{workload}.setup.{k}"] = med([p[k] for p in parts])
    if workload == "rag_qa":
        q = by("question")
        d.update({"qa_p50_s": med(q), "qa_tail_s": pct(q, tail_pct(len(q)))})
    elif workload == "lake_upsert":
        r, w = by("read"), by("write")
        reads = [o["out"] for o in good if o["kind"] == "read"]
        comp = [o for o in good if o["kind"] == "compact"]
        det = run["detail"]
        d.update({"lake_write_p50_s": med(w), "lake_read_p50_s": med(r),
                  "lake_read_tail_s": pct(r, tail_pct(len(r))),
                  "lake_compact_s": med([o["s"] for o in comp]),
                  "lake_bytes_per_user_byte": det["lake_bytes"] / max(det["user_bytes"], 1),
                  "lake_upsert.operators.read_window": med([x["read_window"] for x in reads]),
                  "lake_upsert.operators.read_files": med([x["read_files"] for x in reads]),
                  "lake_upsert.operators.compact_rewrite_mb":
                      med([o["out"]["bytes_after"] / 1048576 for o in comp]),
                  "lake_upsert.operators.vacuum_ms":
                      med([o["out"]["vacuum_s"] * 1e3 for o in comp])})
    elif workload == "analytics_mix":
        q = by("query")
        d.update({"mix_qps": len(q) / sum(q), "mix_p50_s": med(q)})
    elif workload == "corpus_pipeline":
        n = run["detail"]["docs"]
        d.update({"pipeline_docs_per_s": n / med([o["out"]["job1_s"] for o in good]),
                  "dedup_docs_per_s": n / med([o["out"]["job2_s"] for o in good])})
    return d


ENGINE_KEYS = ["jobs", "stages", "tasks", "plan_ms", "sched_wait_ms", "exec_cpu_ms",
               "cpu_util", "shuffle_mb", "task_skew", "scans", "exchanges"]


def per_layer(workload, ops, run, good):
    """Per-layer figures of the traced operations. Engine counters and
    isolated layer-call times are medians over the traced operations of
    the kind `op_p50_s` times; the source scan is the median over the
    traced operations that read a source table; the tracing overhead
    compares traced and untraced operations of the same run."""
    prim = PRIMARY[workload]
    traced = [o for o in good if o["traced"]]
    timed = [o for o in traced if o["kind"] == prim]
    if not timed:
        raise BenchError(f"no traced {prim} operation in the window")
    m = {f"engine.{k}": med([o["engine"][k] for o in timed]) for k in ENGINE_KEYS}
    per_op = {}
    for s in run["spans"]:
        if s["layer"] != "op":
            per_op.setdefault(int(s["op"][2:]), []).append(s)
    iso = {o["i"]: sum(s["ms"] for s in per_op.get(o["i"], [])) for o in timed}
    scans = [sum(s["ms"] for s in per_op[o["i"]] if s["layer"] == "sources")
             for o in traced if any(s["layer"] == "sources" for s in per_op.get(o["i"], []))]
    m["sources.scan_ms"] = med(scans)
    m["trace.isolated_ms"] = med(list(iso.values()))
    m["trace.composed_over_isolated"] = med(
        [o["s"] * 1e3 / iso[o["i"]] for o in timed if iso[o["i"]] > 0])
    un = [o["s"] for o in good if not o["traced"] and o["kind"] == prim]
    m["trace.overhead_pct"] = (med([o["s"] for o in timed]) / med(un) - 1) * 100 \
        if un else float("nan")
    # the design's per-workload names, for the detail line
    detail = {}
    for o in traced:
        for s in per_op.get(o["i"], []):
            detail.setdefault(f"{workload}.{s['layer']}.{s['name']}_ms", []).append(s["self_ms"])
    for k in ("spill_mb", "gc_ms", "failed_tasks", "reused_exchanges"):
        detail[f"engine.{k}"] = [o["engine"][k] for o in timed]
    detail = {k: med(v) for k, v in detail.items()}
    tok_ms = detail.get("rag_qa.functions.tokens_ms")
    if tok_ms:
        detail["rag_qa.functions.tokens_mtok_s"] = run["detail"]["corpus_tokens"] / 1e3 / tok_ms
    return {k: (v, UNITS.get(k.split(".")[-1], "count")) for k, v in m.items()}, detail


UNITS = {"plan_ms": "ms", "sched_wait_ms": "ms", "exec_cpu_ms": "ms", "cpu_util": "ratio",
         "shuffle_mb": "MB", "task_skew": "ratio", "scan_ms": "ms", "isolated_ms": "ms",
         "composed_over_isolated": "ratio", "overhead_pct": "%"}


def source_id(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return None


def bench(args):
    key = build()
    data = inputs(args.workload, args.seed)
    extra = []
    if args.break_kind:
        extra += ["--break", args.break_kind]
    if args.corrupt_kind:
        extra += ["--corrupt", args.corrupt_kind]
    work, ops, run = harness(args.workload, args.seed, args.seconds, args.trace, data,
                             extra=extra)
    verdicts, useful = verify.check(args.workload, ROOT, work, data, ops)
    failed = [o for o in ops if not o["ok"] or verdicts.get(o["i"]) is not None]
    good = [o for o in ops if o["ok"] and verdicts.get(o["i"]) is None]
    for o in failed[:5]:
        log(f"op {o['i']} ({o['kind']}) failed: {o['err'] or verdicts.get(o['i'])}")
    detail = workload_detail(args.workload, ops, run, good) if good else {}
    detail.update({k: med(v) for k, v in useful.items()})
    if args.trace:
        metrics, layer_detail = per_layer(args.workload, ops, run, good)
        detail.update(layer_detail)
        samples, p = {}, None
    else:
        metrics, samples, p = end_to_end(args.workload, ops, run, good)
    missing = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
    if missing:
        raise BenchError(f"no measurement for {missing}")
    with open(os.path.join(data, "inputs.json")) as f:
        inp = json.load(f)
    env = dict(run["env"], commit=source_id(ROOT), source_sha256=key, nproc=ncpus(),
               seed=args.seed, workload=args.workload, trace=args.trace,
               window_s=run["window_s"], tail_percentile=p, samples=samples)
    detail = {k: None if isinstance(v, float) and math.isnan(v) else v
              for k, v in detail.items()}
    print(json.dumps({"environment": env, "inputs": inp,
                      "failed_ratio": len(failed) / max(len(ops), 1),
                      "workload_metrics": detail}, sort_keys=True))
    return {"correct": not failed, "attempted": len(ops), "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def selftest():
    """A deliberately broken operation must land in `failed`: one run
    whose first read throws, one whose first read returns a wrong
    aggregate."""
    ok = True
    for flag in ("break_kind", "corrupt_kind"):
        a = argparse.Namespace(workload="lake_upsert", seed=1, seconds=1, trace=0,
                               break_kind=None, corrupt_kind=None)
        setattr(a, flag, "read")
        res = bench(a)
        bad = res["failed"] == 1 and not res["correct"]
        log(f"selftest {flag}: {'detected' if bad else 'MISSED'} ({res})")
        ok &= bad
    print(json.dumps({"selftest": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--break", dest="break_kind")
    ap.add_argument("--corrupt", dest="corrupt_kind")
    args = ap.parse_args()
    # a terminated run still stops the JVM it started (run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.selftest:
            return selftest()
        if not args.workload:
            ap.error("--workload is required")
        res = bench(args)
    except BenchError as e:
        log(f"error: {e}")
        return 1
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
