#!/usr/bin/env python3
"""Crawl benchmark: times the real epoch loop of the crawl engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload steady_crawl --seed 42 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

The first run builds the engine together with the harness in perfbench/scala
(sbt, with the harness added as an extra source directory) and caches the
class path under .bench_build/. Each run then starts one JVM that drives
EpochDriver in local[nproc] mode (see perfbench/scala/Harness.scala), checks
the counters and invariants of every epoch, and prints one line per metric
followed by a JSON object as the last line of standard output. The exit code
is non-zero when a check fails or the run cannot be made.
"""

import argparse
import hashlib
import json
import os
import math
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"
ENGINE_FILE = os.path.join("src", "main", "scala", "graft", "engine", "EpochDriver.scala")
RUN_LIMIT_S = 170

# Geometry of each workload: seed URLs, hosts, epoch budget (virtual ms),
# major and minor fold cadence (epochs), the opt-in stages, epochs per crawl
# and the epoch after which the crawl resumes in a fresh SparkSession.
STEADY = dict(seeds=800, hosts=200, budget_ms=600000000, major=4, minor=2,
              neardup=0, media=0, sink=0, epochs=4, resume_after=2)
WORKLOADS = {
    "steady_crawl": STEADY,
    "dedup_heavy": dict(STEADY, seeds=3000, hosts=1, budget_ms=600000000),
    "full_ingest": dict(STEADY, neardup=1, media=1, sink=1),
}
# A tiny geometry that still crosses a minor fold, a major fold and the
# resume: smoke mode runs every workload with it, untraced and traced.
SMOKE = dict(seeds=200, hosts=20, budget_ms=20000, major=2, minor=1,
             epochs=2, resume_after=1)
# full_ingest runs steady_crawl's geometry, so its crawl counters must be
# steady_crawl's: both are checked against the same pinned table.
PINNED_AS = {"full_ingest": "steady_crawl"}
COUNTERS = ("fetched", "errors", "discovered", "deduped", "emitted")

END_TO_END = [
    ("crawl_urls_per_s", "1/s"), ("epoch_s_p50", "s"), ("fold_epoch_s_p50", "s"),
    ("setup_s", "s"), ("resume_s", "s"), ("store_bytes_per_url", "B"),
]
SETUP_REPEATS = 2


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def median(xs):
    # the harness writes an unmeasured time as the string "NaN"
    xs = [x for x in xs if isinstance(x, (int, float)) and not math.isnan(x)]
    return statistics.median(xs) if xs else float("nan")


# ---------------------------------------------------------------- build ----

def source_stamp():
    h = hashlib.sha256()
    files = ["build.sbt", os.path.join("project", "build.properties")]
    for top in (os.path.join("src", "main"), os.path.join(HERE, "scala")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the class path."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD_DIR, exist_ok=True)
    harness = os.path.relpath(os.path.join(HERE, "scala"))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f'set Compile / unmanagedSourceDirectories += baseDirectory.value / "{harness}"',
           "compile", "export Runtime / fullClasspath"]
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=840)
        except subprocess.TimeoutExpired:
            fail("build timed out")
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cp = lines[-1] if lines else ""
    if r.returncode != 0 or "classes" not in cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log in {log})")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


# ------------------------------------------------------------------ run ----

def box():
    """Cores and driver heap of this box (the Tier-1 SPARK_DRIVER_MEM rule:
    half of RAM in GiB, clamped to 2..8)."""
    cpus = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return cpus, f"{min(8, max(2, mem_kb // 2097152))}g"


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def java_cmd(cp, heap, work, geometry, args, cpus, out):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap}", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Harness"]
    plan = dict(geometry, seed=args.seed, seconds=args.seconds, trace=args.trace,
                cpus=cpus, work=work, out=out, setup_repeats=args.setup_repeats)
    for k, v in plan.items():
        cmd += ["--" + k.replace("_", "-"), str(v)]
    return cmd


def run_harness(cp, geometry, args, deadline):
    cpus, heap = box()
    work = os.path.abspath(os.path.join(BUILD_DIR, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    load0 = loadavg()
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(java_cmd(cp, heap, work, geometry, args, cpus, out),
                                 stdout=lf, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, env=env)
            try:
                p.wait(timeout=max(10, deadline - time.time()))
            except subprocess.TimeoutExpired:
                fail("harness timed out", 1)
            finally:  # also on SIGTERM: never leave the JVM behind
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if p.returncode != 0 or not os.path.isfile(out):
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"harness exited with {p.returncode}", 1)
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["loadavg"] = {"before": load0, "after": loadavg()}
    res["cpus"], res["heap"] = cpus, heap
    return res


# --------------------------------------------------------------- checks ----

def check(res, pinned, geometry):
    """Check every crawl; return (attempted, failed, messages)."""
    attempted = failed = 0
    msgs = []
    for c in res["crawls"]:
        eps = c["epochs"]
        bad = set()
        if c["error"] is None and not eps:
            continue  # a set-up repeat: no epochs to check
        for ep in eps:
            n, ctr, pr = ep["epoch"], ep["counters"], ep["probe"]
            if pinned is not None:
                want = pinned[n - 1] if n <= len(pinned) else None
                got = {k: ctr[k] for k in COUNTERS}
                if want != got:
                    bad.add(n)
                    msgs.append(f"{c['label']} epoch {n}: counters {got} != pinned {want}")
            if pr is not None:
                expect = {
                    "batch_rows": ctr["fetched"] + ctr["errors"],
                    "ok_rows": ctr["fetched"], "candidates": ctr["discovered"],
                    "fresh": ctr["emitted"], "fresh_exact": ctr["emitted"],
                    "sim_rows": ctr["fetched"], "sink_records": ctr["emitted"],
                }
                for k, v in expect.items():
                    if pr[k] != v:
                        bad.add(n)
                        msgs.append(f"{c['label']} epoch {n}: probe {k} {pr[k]:.0f} != {v}")
        last = eps[-1]["epoch"] if eps else 0
        if c["error"] is not None:
            bad.add(c["error_epoch"])
            msgs.append(f"{c['label']} epoch {c['error_epoch']}: {c['error']}")
        else:
            fin = c["final"]
            ctr = fin["counters"]
            emitted = sum(e["counters"]["emitted"] for e in eps)
            fetched = sum(e["counters"]["fetched"] for e in eps)
            inv = [("seen rows", fin["seen_rows"], fin["seeds"] + emitted)]
            if geometry["neardup"]:
                inv.append(("sim_docs", ctr.get("sim_docs"), fetched))
            if geometry["sink"]:
                inv.append(("sink records", fin["sink_records"], emitted))
            for what, got, want in inv:
                if got != want:
                    bad.add(last)
                    msgs.append(f"{c['label']}: {what} {got} != {want}")
        attempted += len(eps) + (c["error"] is not None)
        failed += len(bad)
    return attempted, failed, msgs


# -------------------------------------------------------------- metrics ----

def crawled(res):
    return [c for c in res["crawls"] if c["epochs"]]


def end_to_end(res):
    crawls = crawled(res)
    eps = [e for c in crawls for e in c["epochs"]]
    urls = sum(e["counters"]["fetched"] + e["counters"]["emitted"] for e in eps)
    wall = sum(e["wall_s"] for e in eps)
    per_url = []
    for c in crawls:
        rows = c["final"]["seeds"] + sum(e["counters"]["emitted"] for e in c["epochs"])
        per_url.append(c["final"]["store_bytes"] / rows)
    return {
        "crawl_urls_per_s": urls / wall if wall else float("nan"),
        "epoch_s_p50": median([e["wall_s"] for e in eps]),
        "fold_epoch_s_p50": median([e["wall_s"] for e in eps if e["kind"] == "major"]),
        "setup_s": median([c["setup_s"] for c in res["crawls"]]),
        "resume_s": median([c["resume_s"] for c in crawls]),
        "store_bytes_per_url": median(per_url),
    }, len(eps), len(crawls)


def self_times(spans):
    """Median self time per span name: duration minus the children's."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["durS"]
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s["durS"] - child.get(s["id"], 0.0))
    return {n: median(v) for n, v in sorted(by.items())}


def layer_unit(name):
    if "bytes" in name:
        return "B"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith(("_s", "_s_p50")):
        return "s"
    if name.endswith(("_ratio", "_skew", "_share", "_growth")):
        return "ratio"
    return "count"


def per_layer(res):
    traced = crawled(res)
    eps = [e for c in traced for e in c["epochs"]]
    pr = [e["probe"] for e in eps]
    sp = [e["spark"] for e in eps]

    def by_kind(k):
        return median([e["wall_s"] for e in eps if e["kind"] == k])

    def ratio(num, den):
        d = sum(den)
        return sum(num) / d if d else 0.0

    m = {
        "engine.epoch_plain_s": by_kind("plain"),
        "engine.epoch_minor_s": by_kind("minor"),
        "engine.epoch_major_s": by_kind("major"),
        "engine.head_sched_share": ratio([e["sched_source"] == "head" for e in eps], [1] * len(eps)),
        "ckpt.expire_s": median([e["expire_s"] for e in eps]),
        "ckpt.bytes_written_per_epoch": median([e["bytes_written"] for e in eps]),
        "ckpt.files_written_per_epoch": median([e["files_written"] for e in eps]),
        "ckpt.fold_base_bytes": median([c["final"]["counters"].get("fold_base_bytes", 0) for c in traced]),
        "ckpt.fold_delta_bytes": median([c["final"]["counters"].get("fold_delta_bytes", 0) for c in traced]),
        "ckpt.manifest_bytes": median([c["final"]["manifest_bytes"] for c in traced]),
        "ckpt.seen_partitions": median([c["final"]["seen_partitions"] for c in traced]),
        "ckpt.open_s": median([c["open_s"] for c in traced]),
        "sched.rank_s": median([p["rank_s"] for p in pr]),
        "sched.pending_rows": median([p["pending_rows"] for p in pr]),
        "sched.batch_rows": median([p["batch_rows"] for p in pr]),
        "fetch.run_s": median([p["fetch_s"] for p in pr]),
        "fetch.partition_skew": median([p["partition_skew"] for p in pr]),
        "extract.canon_s": median([p["canon_s"] for p in pr]),
        "extract.candidates": median([p["candidates"] for p in pr]),
        "dedup.bloom_merge_s": median([p["bloom_merge_s"] for p in pr]),
        "dedup.bloom_build_s": median([p["bloom_build_s"] for p in pr]),
        "dedup.antijoin_s": median([p["antijoin_s"] for p in pr]),
        "dedup.antijoin_exact_s": median([p["antijoin_exact_s"] for p in pr]),
        "dedup.dup_ratio": ratio([p["candidates"] - p["fresh"] for p in pr], [p["candidates"] for p in pr]),
        "dedup.bloom_maybe_hit_ratio": ratio([p["candidates"] - p["fresh"] for p in pr], [p["bloom_maybe"] for p in pr]),
        "neardup.probe_s": median([p["neardup_s"] for p in pr]),
        "neardup.corpus_rows": median([p["corpus_rows"] for p in pr]),
        "neardup.probe_growth": median([c["epochs"][-1]["probe"]["neardup_s"] / c["epochs"][0]["probe"]["neardup_s"]
                                        for c in traced if c["epochs"]]),
        "media.decode_s": median([p["media_s"] for p in pr]),
        "media.spans": median([p["media_spans"] for p in pr]),
        "media.distinct_ref_ratio": ratio([p["media_refs"] for p in pr], [p["media_spans"] for p in pr]),
        "sinks.emit_s": median([p["sink_s"] for p in pr]),
        "sinks.records": median([p["sink_records"] for p in pr]),
        "engine.peak_rss_mb": res["peak_rss_mb"],
        "trace.epoch_s_p50": median([e["wall_s"] for e in eps]),
        "trace.probe_s": median([s["durS"] for s in res["spans"] if s["name"] == "probe"]),
    }
    for k in ("jobs", "stages", "tasks"):
        m[f"engine.{k}_per_epoch"] = median([s[k] for s in sp])
    for k in ("driver_gap_s", "task_cpu_s", "gc_s", "shuffle_bytes", "task_skew"):
        m[f"engine.{k}"] = median([s[k] for s in sp])
    for name, v in self_times(res["spans"]).items():
        m[f"span.{name}.self_s"] = v
    return m


# ----------------------------------------------------------------- main ----

def load_pinned():
    path = os.path.join(HERE, "expected.json")
    if not os.path.isfile(path):
        return {}
    with open(path) as fh:
        return json.load(fh)


def run_workload(cp, name, geometry, args, pinned_all):
    res = run_harness(cp, geometry, args, time.time() + RUN_LIMIT_S)
    key = "smoke" if args.smoke else PINNED_AS.get(name, name)
    pinned = pinned_all.get(key) if args.seed == 42 else None
    attempted, failed, msgs = check(res, pinned, geometry)
    for msg in msgs:
        print(f"CHECK FAILED [{name}] {msg}", file=sys.stderr)
    return res, attempted, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny geometry, traced, on --workload or on every workload")
    ap.add_argument("--spans", help="write the traced run's spans to this JSON file")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")
    if not (os.path.isfile("build.sbt") and os.path.isfile(ENGINE_FILE)):
        fail("run from the root of a crawlerspark source checkout")
    cp = build()
    pinned_all = load_pinned()

    if args.smoke:
        args.trace, args.seconds, args.setup_repeats = 1, 0, 1
        total_failed = 0
        for name in [args.workload] if args.workload else WORKLOADS:
            res, attempted, failed = run_workload(cp, name, dict(WORKLOADS[name], **SMOKE),
                                                  args, pinned_all)
            total_failed += failed
            print(f"smoke {name}: {attempted} epochs, {failed} failed, "
                  f"{len(res['spans'])} spans")
        sys.exit(1 if total_failed else 0)

    args.setup_repeats = 0 if args.trace else SETUP_REPEATS
    geometry = WORKLOADS[args.workload]
    res, attempted, failed = run_workload(cp, args.workload, geometry, args, pinned_all)
    print(f"workload {args.workload}: seed {args.seed}, {res['cpus']} cores, "
          f"heap {res['heap']}, geometry {json.dumps(geometry)}")
    print(f"loadavg before {res['loadavg']['before']} after {res['loadavg']['after']}")
    print(f"epoch_fail_ratio {failed / attempted:.4f} ({failed}/{attempted} epochs)")
    if args.trace:
        metrics = per_layer(res)
        units = {k: layer_unit(k) for k in metrics}
        if args.spans:
            with open(args.spans, "w") as fh:
                json.dump(res["spans"], fh)
    else:
        metrics, n_eps, n_crawls = end_to_end(res)
        units = dict(END_TO_END)
        print(f"measured {n_crawls} crawls, {n_eps} epochs in {res['measured_s']:.1f} s")
        print(f"peak_rss_mb {res['peak_rss_mb']:.1f} MiB (reported per layer when traced)")
    missing = [k for k, v in metrics.items() if math.isnan(v)]
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    for k in missing:
        print(f"CHECK FAILED [{args.workload}] metric {k} was not measured", file=sys.stderr)
    correct = failed == 0 and not missing
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": None if k in missing else v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
