#!/usr/bin/env python3
"""graft's benchmark: one command, one JVM per run at local[nproc].

    python3 graftbench/run.py --workload ingest|curate \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the
benchmark from source with sbt (graftbench/build.sbt); later runs reuse
the build while no source file changes. Each run works in its own
directory under .graftbench/, makes its inputs from --seed, measures for
--seconds, checks every answer, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run is made twice,
untraced then traced, and the metrics are the per-layer ones plus the
tracing overhead. The traced run's full record and its spans are kept in
.graftbench/artifacts/. See graftbench/README.md for every metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402

STATE = os.path.join(ROOT, ".graftbench")
# Scale factor of the tables curate reads (sf 0.1 = 600K lineitem, 5K documents).
CURATE_SF = 0.005
# A run must end within 180 s of its build: every JVM shares this budget.
RUN_BUDGET_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every build input: a change to any of them rebuilds."""
    h = hashlib.sha256()
    for top in ("src/main", "project", "graftbench/src", "graftbench/project"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    p = os.path.join(d, f)
                    h.update(p.encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    for f in ("build.sbt", "graftbench/build.sbt"):
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft sources to build ({need} is missing)")
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=840)
    with open(log) as f:
        lines = [x.strip() for x in f if x.strip()]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1]
    if "graftbench" not in cp:
        fail(f"no classpath in build output, see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def jvm(cp, workload, seed, seconds, traced, data, work, deadline):
    """One JVM run of one workload; returns its raw record."""
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", workload, str(seed), str(seconds),
            "1" if traced else "0", data, work, out]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} run timed out, see {work}/jvm.log")
    if rc != 0 or not os.path.exists(out):
        fail(f"{workload} run failed (exit {rc}), see {work}/jvm.log")
    return check.load(out)


def cpu_times():
    """(steal, total) jiffies of the whole machine, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def one_run(cp, args, traced, tag, deadline):
    work = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    if args.workload == "curate":
        datagen.write(data, args.seed, CURATE_SF)
        if traced:
            # The functions microbenchmark reads fixed sf 0.1 documents and embeddings.
            datagen.write(os.path.join(work, "fdata"), 0, 0.1, only=("documents", "embeddings"))
    before = cpu_times()
    rec = jvm(cp, args.workload, args.seed, args.seconds, traced, data, work, deadline)
    after = cpu_times()
    # CPU time the hypervisor gave to other guests while this run ran.
    rec["steal_share"] = ((after[0] - before[0]) / max(1, after[1] - before[1])
                          if before and after else 0.0)
    verdicts = checks(rec, work, data)
    return rec, verdicts, work


def checks(rec, work, data):
    """{operation: None or reason}; outside every timed region."""
    w = rec["workload"]
    if w == "ingest":
        main = metrics.main_progress(rec)
        observed = tuple(sum(p["observed"].get(k, 0) for p in main) for k in ("n_valid", "n_parsed"))
        return check.ingest(rec["ledger"], rec["landed"], observed,
                            (rec["ledger_valid"], rec["ledger_parsed"]))
    out = check.stable_hashes(rec["execs"])
    bad = check.oracle(os.path.join(work, "results"), rec["oracle"], data)
    # A query whose cold-pass answer disagrees with DuckDB fails every time it ran.
    for i, e in enumerate(rec["execs"]):
        if bad.get(e["query"]):
            out[f"{e['query']}#{i}"] = f"oracle: {bad[e['query']]}"
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")
    cp = build()
    deadline = time.monotonic() + RUN_BUDGET_S
    rec, verdicts, work = one_run(cp, args, False, "e2e", deadline)
    e2e = metrics.end_to_end(rec)
    failed = sorted(k for k, v in verdicts.items() if v)
    attempted = max(1, len(verdicts))
    for k in failed[:20]:
        print(f"graftbench: wrong answer {k}: {verdicts[k]}", file=sys.stderr)
    named = metrics.named(rec, e2e, len(failed) / attempted)
    print("graftbench " + args.workload + ": " + ", ".join(
        f"{k}={v['value']:.6g} {v['unit']}" + (f" (n={v['n']})" if "n" in v else "")
        for k, v in named.items()))
    out_metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in e2e.items()}
    if args.trace:
        trec, tverdicts, twork = one_run(cp, args, True, "trace", deadline)
        failed += sorted(k for k, v in tverdicts.items() if v)
        attempted += len(tverdicts)
        layer = metrics.per_layer(trec, e2e)
        self_ms = layer.pop("_self_ms_by_kind")
        os.makedirs(os.path.join(STATE, "artifacts"), exist_ok=True)
        art = os.path.join(STATE, "artifacts", f"{args.workload}-{args.seed}-trace.json")
        with open(art, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "end_to_end": e2e,
                       "named": named, "per_layer": layer, "self_ms_by_kind": self_ms,
                       "spans": trec["spans"],
                       "reference": metrics.REFERENCE}, f)
        out_metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in layer.items()}
        shutil.rmtree(twork, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed),
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()
