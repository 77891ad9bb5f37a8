#!/usr/bin/env python3
"""graft benchmark: one command runs a workload, checks its outputs and
prints every metric by name with its unit.

    python3 perfbench/run.py --workload scan|write|pipeline|all \
        --seed N --seconds S --trace 0|1 [--smoke] [--keep DIR]

Run from the root of a checkout. It builds graft and the benchmark driver
from source (perfbench/build.py), checks the fixed input tables under
perfbench/tables against their SHA256SUMS, runs one JVM
on local[N] (N = min(4, nproc) - 1) with one client thread in a closed loop,
checks the outputs, and prints:

  * a provenance record (host, load, JVM, Spark conf, source hash, seed);
  * the full report: every end-to-end metric of the workload and, with
    --trace 1, every per-layer metric, per-op self time by layer and the
    tracing overhead;
  * as the last line, one JSON object: {"correct", "attempted", "failed",
    "metrics"}, where metrics are the contract metrics of BENCHMARK.json
    (end-to-end ones with --trace 0, per-layer ones with --trace 1).

Exit code 0 only when every output check passed. Scratch output goes to a
temporary directory under the build directory and is removed at the end
(--keep DIR copies the report and the trace spans there first).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402

WORKLOADS = ("scan", "write", "pipeline")
END_TO_END = ("setup_s", "ops_s", "op_p50_ms", "op_tail_ms", "cpu_ms_per_op", "retained_heap_mb")
PER_LAYER = (
    "format.rle_int_decode_mb_s", "format.rle_int_encode_mb_s", "format.rle_byte_decode_mb_s",
    "format.bitfield_decode_mb_s", "format.zlib_decompress_mb_s", "format.zlib_compress_mb_s",
    "format.snappy_decompress_mb_s", "format.zstd_decompress_mb_s", "format.bloom_probe_ns",
    "dwrf.read.file_rows_s", "dwrf.write.file_rows_s",
    "spark.plan_ms_per_op", "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.executor_cpu_ms_per_op", "spark.executor_run_ms_per_op", "spark.gc_ms_per_op",
    "spark.shuffle_write_mb_per_op", "spark.driver_ms_per_op", "spark.slot_util")
# Input scale of the fixed tables: the scan and write workloads (and the
# kernel table) use sf0.1 lineitem/events; the query tier runs on the sf0.01
# tables, the largest at which its DuckDB oracle stays affordable. --smoke
# uses sf0.001 for everything.
SCALE = {"scan": "0.1", "pipeline": "0.01", "smoke": "0.001"}
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
# The JVM of one workload must finish within this many seconds.
JVM_DEADLINE_S = 150
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return n


def executor_cores():
    """Spark runs on local[N] with N = min(4, nproc) - 1: one core stays free
    for the client and driver threads, JIT and GC, which makes the timings
    of this closed loop markedly steadier on a shared host."""
    return max(1, min(4, cores()) - 1)


def data_dir(sf):
    """The fixed tables of scale `sf` and a key naming their contents. Every
    file must match its line in tables/SHA256SUMS."""
    with open(os.path.join(TABLES_DIR, "SHA256SUMS")) as fh:
        sums = [line.split() for line in fh if line.strip()]
    mine = sorted((name, digest) for digest, name in sums if name.startswith(f"sf{sf}/"))
    if not mine:
        raise ValueError(f"no fixed tables at scale {sf}")
    for name, digest in mine:
        with open(os.path.join(TABLES_DIR, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                raise ValueError(f"tables/{name} does not match tables/SHA256SUMS")
    key = hashlib.sha256(repr(mine).encode()).hexdigest()[:16]
    return os.path.join(TABLES_DIR, f"sf{sf}"), key


def run_jvm(classes, args, work, deadline):
    cp = os.pathsep.join([classes, build.classpath()])
    heap = "3g"
    cmd = [build.java(), f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/jtmp",
           f"-Dgraft.staging.root={work}/staging", f"-Dgraft.streaming.staging={work}/streaming",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args
    os.makedirs(os.path.join(work, "jtmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError("JVM did not finish within the deadline")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def oracle_check(results, data, data_key):
    """Compare each dumped pipeline result with its DuckDB oracle answer.
    Oracle answers depend only on the fixed tables and the SQL, so they are
    computed once per checkout and cached. Returns a list of errors."""
    import oracle
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    cache = os.path.join(build.build_dir(), "oracle")
    return [f"{name}: {err}" for name, err in
            oracle.check(sqls, results, data, data_key, cache).items() if err]


def run_workload(name, args, classes, scan_data):
    smoke = args.smoke
    if name == "pipeline":
        data, data_key = data_dir(SCALE["smoke"] if smoke else SCALE["pipeline"])
    else:
        data, data_key = scan_data
    tmp_root = os.path.join(build.build_dir(), "tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{name}-", dir=tmp_root)
    try:
        out = os.path.join(work, "result.json")
        n = executor_cores()
        jargs = ["--workload", name, "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace), "--data", data, "--scan-data", scan_data[0],
                 "--work", work, "--cores", str(n), "--setup-reps", "1" if smoke else "2",
                 "--out", out]
        rc = run_jvm(classes, jargs, work, time.monotonic() + JVM_DEADLINE_S)
        if rc != 0 or not os.path.exists(out):
            raise RuntimeError(f"{name}: JVM exited {rc} without a result")
        with open(out) as fh:
            res = json.load(fh)
        if name == "pipeline":
            errs = oracle_check(os.path.join(work, "results"), data, data_key)
            res["failed"] += len(errs)
            res["errors"] += errs
            res["oracle_checked"] = len(json.load(open(os.path.join(work, "results", "oracle_sql.json"))))
        res["cores"] = n
        if args.keep:
            os.makedirs(args.keep, exist_ok=True)
            with open(os.path.join(args.keep, f"{name}-report.json"), "w") as fh:
                json.dump(res, fh, indent=1)
            spans = os.path.join(work, "trace", "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(args.keep, f"{name}-spans.jsonl"))
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def print_report(res):
    print(f"== {res['workload']}: attempted {res['attempted']}, failed {res['failed']}")
    for e in res["errors"]:
        print(f"   error: {e}")
    for section in ("metrics", "layer_metrics"):
        for k, m in res[section].items():
            v = "none" if m["value"] is None else f"{m['value']:.6g}"
            print(f"   {k:<48} {v:>14} {m['unit']}")
    if res.get("self_time") and res["self_time"].get("all_ops_ms"):
        print("   self time by layer, ms per op (traced ops):")
        for kind, t in [("all ops", res["self_time"]["all_ops_ms"])] + \
                sorted(res["self_time"]["by_kind_ms"].items()):
            cells = "  ".join(f"{k}={v:.2f}" for k, v in sorted(t.items()))
            print(f"     {kind:<24} {cells}")


def contract(res, trace):
    names = PER_LAYER if trace else END_TO_END
    src = res["layer_metrics"] if trace else res["metrics"]
    out = {}
    for n in names:
        m = src.get(n)
        if m is None or m["value"] is None:
            raise RuntimeError(f"{res['workload']}: metric {n} missing")
        out[n] = {"value": m["value"], "unit": m["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 tables, one set-up pass")
    ap.add_argument("--keep", help="copy the report and trace spans to this directory")
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    load0 = os.getloadavg()[0]
    n = cores()
    prov = {"nproc": n, "load1_start": load0, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "smoke": args.smoke, "busy_host": load0 > n / 2}
    if prov["busy_host"]:
        log(f"host busy at start: load1 {load0:.2f} > nproc/2 = {n / 2}; timings are suspect")
    try:
        classes, src_key = build.build()
        prov["source_hash"] = src_key
        prov["commit"] = git_commit()
        scan_data = data_dir(SCALE["smoke"] if args.smoke else SCALE["scan"])
        names = WORKLOADS if args.workload == "all" else (args.workload,)
        results = []
        for name in names:
            results.append(run_workload(name, args, classes, scan_data))
    except (build.BuildError, RuntimeError, OSError, KeyError, ValueError) as e:
        log(f"failed: {e}")
        sys.exit(2)

    prov["load1_end"] = os.getloadavg()[0]
    prov["jvm"] = results[0]["jvm"]
    prov["spark_conf"] = results[0]["spark_conf"]
    print(json.dumps({"provenance": prov}))
    for res in results:
        print_report(res)
    try:
        metrics = {}
        for res in results:
            c = contract(res, args.trace)
            metrics.update({(f"{res['workload']}.{k}" if len(results) > 1 else k): v for k, v in c.items()})
    except RuntimeError as e:
        log(str(e))
        sys.exit(2)
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


def git_commit():
    if not os.path.exists(os.path.join(build.ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
