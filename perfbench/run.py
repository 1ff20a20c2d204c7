#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload {ingest,curate,interactive} \
        --seed N --seconds S --trace {0,1}

Builds the program and the harness from source (once per source
state), generates the seed's inputs (cached by seed and sizes), runs the
workload closed-loop for S seconds in one JVM at local[nproc], checks
the outputs, and prints every metric with its unit and sample count.
The last stdout line is one JSON object: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. See README.md."""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ingest", "curate", "interactive")
JVM_OPTS = [
    "-Xmx3g", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def source_hash(root):
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(HERE, "scala")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile program + harness with sbt; returns the runtime classpath.
    Skipped when the sources are unchanged since the last build."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources at src/main/scala "
                         "(run from the repository root)")
    stamp = os.path.join(build_dir, "classpath.json")
    want = source_hash(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got["sources"] == want:
            return got["classpath"]
    log("building program and harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]))
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [ln for ln in out.stdout.splitlines()
          if ln.startswith(os.sep) and ln.endswith(".jar")]
    if not cp:
        raise SystemExit("perfbench: sbt printed no classpath")
    make_class_archive(cp[-1], build_dir)
    with open(stamp, "w") as f:
        json.dump({"sources": want, "classpath": cp[-1]}, f)
    log(f"build took {time.time() - t0:.1f} s")
    return cp[-1]


def class_archive(build_dir):
    return os.path.join(build_dir, "classes.jsa")


def make_class_archive(cp, build_dir):
    """Dump a class-data archive of the classes one harness run loads
    (an ingest pass on seed-0 inputs). Every measured run maps it, which
    saves most of a fresh JVM's class loading; it is part of the build
    because it is bound to the classpath."""
    path = class_archive(build_dir)
    if os.path.exists(path):
        os.remove(path)
    data, manifest = inputs(build_dir, 0)
    work = os.path.join(build_dir, "work", "class-archive")
    run_jvm(cp, f"-XX:ArchiveClassesAtExit={path}", "ingest", data, work,
            0, 0, manifest["op_seed"])
    shutil.rmtree(work, ignore_errors=True)


def inputs(build_dir, seed):
    key = hashlib.sha256(json.dumps(gen.SIZES, sort_keys=True).encode())
    data = os.path.join(build_dir, "data", f"s{seed}-{key.hexdigest()[:10]}")
    if not os.path.exists(os.path.join(data, "manifest.json")):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.time()
        gen.generate(seed, data)
        log(f"generated inputs for seed {seed} in {time.time() - t0:.2f} s "
            "(not part of setup_s)")
    with open(os.path.join(data, "manifest.json")) as f:
        return data, json.load(f)


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, cds_opt, workload, data, work, seconds, trace, opseed):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Djava.io.tmpdir={tmp}", cds_opt] + JVM_OPTS
           + ["-cp", cp, "perfbench.Harness", workload, data, work,
              str(seconds), str(trace), str(cores()), str(opseed)])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=seconds + 150)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: harness timed out")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def end_to_end(res, workload):
    """The end-to-end metrics: name -> (value, unit, samples)."""
    ops = res["ops"]
    main_kinds = {"ingest": {"pass"}, "curate": {"pass"},
                  "interactive": {"read", "probe"}}[workload]
    main = [o for o in ops if o["kind"] in main_kinds]
    if not main:
        raise SystemExit("perfbench: no op completed inside the run; "
                         "raise --seconds")
    lat = metrics.latencies(main)
    setup = res["session_s"] + res["warmup_s"]
    written = res["shuffle_write_bytes"] + sum(
        o["extra"].get("written_bytes", 0.0) for o in ops)
    inp = sum(o["extra"].get("input_bytes", 0.0) for o in ops)
    return {
        "setup_s": (setup, "s", 1),
        "rows_per_s": (metrics.throughput(ops), "rows/s", len(ops)),
        "op_p50_s": (metrics.median(lat), "s", len(lat)),
        "write_amp": (metrics.write_amp(written, inp), "bytes/byte",
                      len(ops)),
        "cache_peak_mb": (max(res["storage_bytes"]) / metrics.MB, "MB",
                          len(res["storage_bytes"])),
    }


def interactive_extras(res, recall, ref_recall):
    """The figures only interactive has, printed for reading; the JSON
    line carries the metrics every workload has."""
    ops = res["ops"]
    reads = [o for o in ops if o["kind"] in ("read", "probe")]
    p95, n, beyond = metrics.percentile(metrics.latencies(reads), 0.95)
    log(f"query_p95_s = {p95:.4f} s (n={n}, {beyond} samples beyond p95)")
    absorbs = [o for o in ops if o["kind"] == "write"]
    if absorbs:
        log(f"absorb_p50_s = "
            f"{metrics.median(metrics.latencies(absorbs)):.4f} s "
            f"(n={len(absorbs)})")
    log(f"recall_at_10 = {recall:.4f} (n={len(res['checks']['probes'])} "
        f"probes; reference IVF {ref_recall:.4f}, floor "
        f"{checks.RECALL_SHARE} x reference)")


def per_layer(res, workload, keep_checks):
    ops = res["ops"]
    spans, jobs = res["spans"], res["jobs"]
    out = metrics.layer_stats(spans, jobs, res["cores"])
    traced_ops = [o for o in ops if o["traced"]]
    if workload == "ingest":
        out["filters.keep_frac"] = metrics.ratio(
            metrics.span_sum(spans, "filters.", "rows_out"),
            metrics.span_sum(spans, "enrich.", "rows_out"))
        for layer in ("fetch", "images"):
            out[f"{layer}.ok_frac"] = metrics.ratio(
                metrics.span_sum(spans, f"{layer}.", "rows_ok"),
                metrics.span_sum(spans, f"{layer}.", "rows_out"))
    for layer, (kept, seen) in keep_checks.items():
        out[f"{layer}.keep_frac"] = metrics.ratio(kept, seen)
    out["etl.bytes_written_mb"] = metrics.span_sum(
        spans, "etl.", "bytes_written") / metrics.MB
    out["etl.files_written"] = metrics.span_sum(spans, "etl.",
                                                "files_written")
    if workload == "interactive":
        owned, _ = metrics.attribute_jobs(spans, jobs)
        probe_spans = [s for s in spans
                       if s["name"].startswith("similarity.ivfTopK")]
        scanned = sum(j["records_read"] for s in probe_spans
                      for j in owned.get(s["id"], []))
        results = sum(o["extra"].get("results", 0.0) for o in traced_ops
                      if o["kind"] == "probe")
        out["similarity.rows_scanned_per_result"] = metrics.ratio(
            scanned, results)
        out["similarity.index_files"] = float(res["checks"]["index_files"])
        out["similarity.bytes_written_mb"] = sum(
            o["extra"].get("written_bytes", 0.0) for o in traced_ops
            if o["kind"] == "write") / metrics.MB
    for layer in ("text", "dedup", "similarity", "analytics"):
        out[f"{layer}.persisted_rdds_delta"] = metrics.span_sum(
            spans, f"{layer}.", "persisted_rdds_delta")
    out["tracing_overhead_s"] = metrics.tracing_overhead(ops)
    _, loose = metrics.attribute_jobs(spans, jobs)
    unattributed = metrics.in_traced_ops(loose, ops)
    out["unattributed_jobs"] = float(len(unattributed))
    if unattributed:
        log(f"unattributed: {len(unattributed)} jobs ran inside traced ops "
            "under a job group that names no open span: groups "
            + ", ".join(sorted({str(j['group']) for j in unattributed})))
    for name in metrics.per_layer_names():
        out.setdefault(name, 0.0)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR",
                                               ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)
    data, manifest = inputs(build_dir, a.seed)
    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    t0 = time.time()
    res = run_jvm(cp, f"-XX:SharedArchiveFile={class_archive(build_dir)}",
                  a.workload, data, work, a.seconds, a.trace,
                  manifest["op_seed"])
    log(f"harness wall time {time.time() - t0:.1f} s: session "
        f"{res['session_s']:.1f} s, warm-up {res['warmup_s']:.1f} s, "
        f"untimed checks {res['finish_s']:.1f} s")

    ops = res["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    for o in ops:
        if not o["ok"]:
            log(f"FAILED op {o['name']}: {o['err']}")
    chk = res["checks"]
    fails = checks.registry(chk, os.path.join(data, "oracle"))
    recall = ref_recall = None
    fails += [f"{m}: rows differ from the checked reference run"
              for m in chk.get("mismatches", [])]
    if a.workload == "ingest":
        fails += checks.ingest(chk, manifest)
    elif a.workload == "interactive":
        f2, recall, ref_recall = checks.interactive(chk, data)
        fails += f2
    for f in fails:
        log(f"CHECK FAILED {f}")
    log(f"error_rate = {metrics.ratio(failed, len(ops)):.4f} "
        f"({failed} failed of {len(ops)} attempted ops)")

    if a.trace == 0:
        e2e = end_to_end(res, a.workload)
        for name, (v, unit, n) in e2e.items():
            log(f"{name} = {v:.6g} {unit} (n={n})")
        if a.workload == "interactive":
            interactive_extras(res, recall, ref_recall)
        out = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    else:
        keep = {k: tuple(v) for k, v in chk.get("keep", {}).items()}
        layers = per_layer(res, a.workload, keep)
        out = {}
        for name in metrics.per_layer_names():
            v, unit = float(layers[name]), metrics.per_layer_unit(name)
            out[name] = {"value": v, "unit": unit}
            log(f"{name} = {v:.6g} {unit}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not fails, "attempted": len(ops),
                      "failed": failed, "metrics": out}))
    if fails:
        sys.exit(1)


if __name__ == "__main__":
    main()
