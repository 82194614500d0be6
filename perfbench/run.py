#!/usr/bin/env python3
"""graft benchmark: one command, one JVM, seeded inputs, checked answers.

    python3 perfbench/run.py --workload tokens_topk --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --seed 7                 # all four workloads, one JVM
    python3 perfbench/run.py --seed 7 --trace 1       # the traced run

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (perfbench/build.sbt) into the build
directory ($CARGO_TARGET_DIR, default .bench_build); later runs reuse the
build while the sources are unchanged. Every run prints a report, appends
a host-keyed record under <build dir>/results, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. Untraced runs report the
end-to-end metrics of BENCHMARK.json, traced runs the per-layer ones.
See perfbench/README.md.
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
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402

ROOT = HERE.parent
WORKLOADS = ("tokens_topk", "events_windows", "stream_sliding", "docs_minhash")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
XMX = "2g"
CDS_ARCHIVE = "classes.jsa"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def run_logged(cmd, cwd, log, timeout, env=None):
    """Run `cmd` with output to `log`; on timeout kill its whole process
    group (sbt starts a JVM of its own) and wait for it."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, action="append",
                    help="workload to run (repeatable); default: all four")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    args.workload = args.workload or list(WORKLOADS)
    return args


def jvm_args(args, work, out):
    """The JVM program's arguments: each workload gets its own input seed,
    derived from --seed."""
    cmd = []
    for w in args.workload:
        cmd += ["--workload", "%s:%d" % (w, harness.derive_seed(args.seed, w))]
    cmd += ["--seconds", repr(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(out)]
    return cmd


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src"]
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.properties"))
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def source_stamp():
    """Hash of every file the build reads; a build is reused while it holds."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_built(bdir):
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise BenchError("no graft sources next to perfbench/: run from a graft checkout")
    stamp = source_stamp()
    cp_file, stamp_file = bdir / "classpath.txt", bdir / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().split("\n")
    bdir.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = bdir / "build.log"
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], HERE, log,
                    BUILD_TIMEOUT_S, env)
    written = HERE / "target" / "runtime-classpath.txt"
    if rc != 0 or not written.is_file():
        raise BenchError("build failed (exit %d); see %s" % (rc, log))
    classpath = snapshot_classes(written.read_text().split("\n"), bdir / "classes")
    (bdir / CDS_ARCHIVE).unlink(missing_ok=True)
    cp_file.write_text("\n".join(classpath))
    stamp_file.write_text(stamp)
    return classpath


def snapshot_classes(classpath, dest, root=ROOT):
    """Pack the class directories the build wrote inside the checkout
    (graft's and the benchmark's target/ directories) into jars under
    `dest`, and return the classpath with the jars in their place. A reused
    build then runs the classes its stamp describes, whatever is compiled
    into target/ later; and a classpath of jars only is one the JVM can
    share class data for."""
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    out = []
    for i, entry in enumerate(e for e in classpath if e):
        p = Path(entry).resolve()
        if p.is_dir() and root in p.parents:
            jar = dest / ("%d.jar" % i)
            with zipfile.ZipFile(jar, "w") as z:
                for f in sorted(p.rglob("*")):
                    if f.is_file():
                        z.write(f, f.relative_to(p).as_posix())
            out.append(str(jar))
        else:
            out.append(entry)
    return out


def cds_flags(bdir):
    """Class-data sharing: the first run after a build dumps the classes it
    loaded into an archive in the build directory, and later runs map it,
    which takes about ten seconds of class loading off each JVM start (4-core
    box, JDK 17). It changes start-up only: setup_s is the median set-up,
    and the first set-up, which pays the JVM's start, is never the median."""
    archive = bdir / CDS_ARCHIVE
    if archive.is_file():
        return ["-XX:SharedArchiveFile=%s" % archive]
    return ["-XX:ArchiveClassesAtExit=%s" % archive]


def run_jvm(args, classpath, bdir):
    tag = "%d-%d" % (os.getpid(), time.time_ns())
    work, out = bdir / ("work-" + tag), bdir / ("raw-" + tag + ".json")
    (bdir / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xms" + XMX, "-Xmx" + XMX, "-XX:+UseG1GC", "-Djava.io.tmpdir=%s" % (bdir / "tmp"),
           "-Xlog:cds=off,cds+dynamic=off"] + cds_flags(bdir) + [
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main"] + jvm_args(args, work, out)
    log = bdir / ("jvm-" + tag + ".log")
    try:
        rc = run_logged(cmd, ROOT, log, JVM_TIMEOUT_S * len(args.workload))
        if rc != 0 or not out.is_file():
            tail = log.read_text(errors="replace").splitlines()[-30:]
            raise BenchError("benchmark JVM failed (exit %d):\n%s" % (rc, "\n".join(tail)))
        raw = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        out.unlink(missing_ok=True)
    log.unlink(missing_ok=True)
    return raw


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def host_record(raw, args):
    h = dict(raw["host"])
    h.update({"seed": args.seed, "seconds": args.seconds, "commit": git_commit(),
              "sources": source_stamp()[:16]})
    return h


def fmt(v):
    return "%.6g" % v if isinstance(v, float) else str(v)


def main(argv):
    args = parse_args(argv)
    bdir = build_dir()
    try:
        classpath = ensure_built(bdir)
        raw = run_jvm(args, classpath, bdir)
    except (BenchError, subprocess.TimeoutExpired) as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 1
    host = host_record(raw, args)
    print("host: " + json.dumps(host, sort_keys=True))
    attempted = failed = 0
    combined = {}
    results = bdir / "results"
    results.mkdir(parents=True, exist_ok=True)
    for name in args.workload:
        w = raw["workloads"][name]
        w["name"] = name
        a, f = harness.counts(w)
        attempted, failed = attempted + a, failed + f
        e2e = harness.end_to_end(w)
        metrics = harness.per_layer(w, raw["host"]["cpus"]) if args.trace else e2e
        print("== %s  seed=%d input_seed=%d rows=%s fingerprint=%s attempted=%d failed=%d"
              % (name, args.seed, w["seed"], w["input"]["rows"], w["input"]["fingerprint"], a, f))
        print("  phases: " + " ".join("%s=%.1fs" % kv for kv in w["phase_s"].items()))
        print("  set-ups: " + " | ".join(" ".join("%s=%.1fs" % kv for kv in p.items())
                                         for p in w["setup_parts"]))
        print("  heap pass: peak %.1f MB over %d full-GC readings"
              % (w["heap_peak_mb"], w["heap_samples"]))
        walls = [it["wall_ns"] / 1e6 for it in w["measured"].get("iterations", [])
                 if not it["traced"]]
        if walls:
            print("  iterations: n=%d wall_ms min=%.1f p50=%.1f max=%.1f"
                  % (len(walls), min(walls), harness.median(walls), max(walls)))
        for k, (v, unit) in sorted(e2e.items()):
            print("  %-34s %14s %s" % (k, fmt(v), unit))
        if args.trace:
            for k, (v, unit) in metrics.items():
                print("  %-34s %14s %s" % (k, fmt(v), unit))
            spans = harness.build_spans(w)
            (results / ("spans-%s-seed%d.json" % (name, args.seed))).write_text(json.dumps(spans))
            for b in harness.job_breakdown(w)[:2]:
                print("  job %s: wall %.3f s = stages %.3f s + driver %.3f s"
                      % (b["name"], b["wall_s"], sum(b["stage_shares_s"]), b["driver_s"]))
        for r in w["measured"].get("rungs", []):
            s = harness.rung_summary(r)
            lat = {k: v if v is None else round(v, 1) for k, v in s["latency"].items()}
            print("  rung %6d rows/s: backlog %s (max %.0f rows), latency %s"
                  % (s["rate"], "grows" if s["grows"] else "steady", s["backlog_max"],
                     json.dumps(lat)))
        m = w["measured"]
        if "rungs" in m:
            notes = [n for r in harness.checked_rungs(m) for n in harness.stream_verdict(r)["notes"]]
        else:
            calls = [c for it in m["iterations"] for c in it["calls"]] + m["heap_checks"]
            notes = [c["note"] for c in calls if c["note"]]
        for n in notes[:5]:
            print("  FAILED: " + n)
        record = {"host": host, "workload": name, "trace": args.trace,
                  "input": w["input"], "attempted": a, "failed": f,
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
        with open(results / "records.jsonl", "a") as fh:
            fh.write(json.dumps(record, sort_keys=True) + "\n")
        for k, (v, u) in metrics.items():
            combined[k if len(args.workload) == 1 else "%s.%s" % (name, k)] = {"value": v, "unit": u}
    if len(args.workload) == 1:
        combined = {k: combined[k] for k in (harness.PER_LAYER if args.trace
                                             else harness.END_TO_END)}
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": combined}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
