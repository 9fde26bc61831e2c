#!/usr/bin/env python3
"""Same-host benchmark of the engine's public API on three seeded workloads.

    python3 perfbench/run.py --workload lake_query --seed 1 --seconds 4 --trace 0

Run from the repository root. The engine and the JVM runner are compiled from
source on first use (`perfbench/build.py`, into `.bench_build/`). Inputs
are staged from the test tables under the seed into a scratch directory
that is deleted at exit; the JVM runner (`perfbench/src`) runs one closed
loop with one client thread for `--seconds`; every result is checked
against a DuckDB reference. The full record goes to
`.bench_build/results/`; the last stdout line is the compact summary.
With `--trace 1` the run also records spans and Spark listener counts and
reports the per-layer metrics instead of the end-to-end ones.
"""
import argparse
import datetime
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402
import stage  # noqa: E402
from digest import same  # noqa: E402

WORKLOADS = ("lake_query", "curate_fineweb", "stream_ingest")
RUN_LIMIT_S = 170  # a run must end within 180 s once built
SUMMARY_MAX_CHARS = 2000
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def nproc():
    return len(os.sched_getaffinity(0))


def heap():
    """MemTotal / 2, clamped to [2, 8] GiB: the Tier-1 test command's rule."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def oracles(classpath):
    """The repo's DuckDB oracle statements the references reuse."""
    path = os.path.join(build.OUT, "oracles.json")
    stamp = os.path.join(build.OUT, "main-classes.stamp")
    if not os.path.exists(path) or os.path.getmtime(path) < os.path.getmtime(stamp):
        out = subprocess.run(["java", "-cp", classpath, "perfbench.Oracles"],
                             check=True, stdout=subprocess.PIPE, text=True).stdout
        with open(path, "w") as fh:
            fh.write(out)
    with open(path) as fh:
        return json.load(fh)


def clear_stale(results_root):
    """Scratch directories of runs that were killed; every run then does
    the same set-up work (no staged input survives from an earlier run)."""
    for name in os.listdir(results_root):
        if name.startswith("run-"):
            pid = int(name[4:]) if name[4:].isdigit() else -1
            try:
                os.kill(pid, 0)
            except (ProcessLookupError, ValueError, OverflowError):
                shutil.rmtree(os.path.join(results_root, name), ignore_errors=True)
            except PermissionError:
                pass


def class_archive(key):
    """JVM flags for a class-data-sharing archive of the classes a run
    loads (JDK, Spark, engine), parsed and verified once, as a long-running
    server has them loaded. The first run after a build writes it (that
    run's set-up loads every class from the jars, 10-15 s slower, and its
    operations ran up to 20% slower); later runs of every workload map it
    and load only the classes it lacks. Returns (flags, path the JVM
    writes, or None)."""
    archive = os.path.join(build.OUT, f"cds-{key}.jsa")
    if os.path.exists(archive):
        return [f"-XX:SharedArchiveFile={archive}"], None
    for name in os.listdir(build.OUT):  # archives of earlier builds
        if name.startswith("cds-"):
            os.remove(os.path.join(build.OUT, name))
    return [f"-XX:ArchiveClassesAtExit={archive}.tmp"], archive


def run_jvm(classpath, key, plan_path, work, deadline):
    log_path = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cds, dump = class_archive(key)
    cmd = (["java", f"-Xmx{heap()}", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + cds
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", plan_path])
    with open(log_path, "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # also on SIGTERM/SIGINT: the JVM runs in its own session
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path, errors="replace") as fh:
            log = fh.read()
        first = log.find("Exception in thread")
        sys.stderr.write(log[first:first + 4000] if first >= 0 else log[-4000:])
        raise RuntimeError(f"JVM runner failed ({code})")
    if dump and os.path.exists(dump + ".tmp"):
        os.replace(dump + ".tmp", dump)
    return t0


def check(workload, seed, section, record, oracle_sql):
    """Mark each op ok/failed against its reference; return (op flags,
    extra check results as (name, ok))."""
    ops = record["ops"]
    extra = record["extra"]
    checks = []

    def matches(refs):
        return [not o["err"] and all(same(d, refs[r]) for r, d in o["checks"]) for o in ops]

    if workload == "lake_query":
        refs = stage.refs_lake(section, {r for o in ops for r, _ in o["checks"]})
        ok = matches(refs)
    elif workload == "curate_fineweb":
        refs = stage.refs_curate(seed, oracle_sql)
        ok = matches(refs)
        report = [[r[0], r[1], int(r[2])] for r in extra["report"]]
        checks.append(("report", report == refs["report"]))
        for i, (op, _, rows) in enumerate(extra.get("stages", [])):
            want = refs["report"][i + 1]
            checks.append((f"stage.{op}", want[1] == op and int(want[2]) == int(rows)))
    else:
        ok = matches(stage.refs_stream(seed, oracle_sql))
    return ok, checks


def end_to_end(workload, record, setup_s):
    """The user-visible metrics of one untraced run, and the ones the full
    record holds besides."""
    ops = record["ops"]
    loop_s = record["loop_s"]
    lat = [o["ms"] for o in ops]
    p, tail_ms = metrics.tail(lat)
    out = {
        "setup_s": setup_s,
        "op_p50_ms": metrics.median(lat),
        "ops_per_s": len(ops) / loop_s,
        "live_heap_mb": record["live_heap_mb"],
    }
    extra = {"op_samples": len(lat), "op_tail_p": p, "op_tail_ms": tail_ms,
             "op_p90_ms": metrics.percentile(lat, 90) if len(lat) >= 100 else None,
             # input rows per second of operation time; not defined for
             # lake_query, whose operations read rows the pruning decides
             "rows_per_s": (sum(o["rows_in"] for o in ops) / (sum(lat) / 1000.0)
                            if workload != "lake_query" and lat else None)}
    return out, extra


def per_layer(workload, section, record, cores, e2e_extra):
    """Layer metrics of one traced run; layers the workload does not load
    read 0. The operation count and the input row rate ride along, as the
    traced run measures them too."""
    ops = record["ops"]
    extra = record["extra"]
    spans = record["spans"]
    out = dict.fromkeys(LAYER_METRICS, 0.0)
    out["op_samples"] = e2e_extra["op_samples"]
    out["rows_per_s"] = e2e_extra["rows_per_s"] or 0.0

    def span_p50(name, in_loop=True):
        return metrics.median([s[5] for s in spans
                               if s[2] == name and (s[3] >= 0 or not in_loop)])

    ex = record["exec"]
    if workload == "stream_ingest":
        # an op adds two queries' triggers: attribute jobs to the triggers
        intervals = []
        for p in extra["progress"]:
            t = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            start = int(t.timestamp() * 1000)
            intervals.append((start, start + p["durationMs"].get("triggerExecution", 0)))
    else:
        intervals = [(o["start_ms"], o["start_ms"] + o["ms"]) for o in ops]
    out.update(metrics.exec_metrics(ex["jobs"], ex["stages"], intervals, cores, len(ops)))
    out["jvm.gc_s"] = record["gc_s"] / max(len(ops), 1)
    out["jvm.old_gen_max_mb"] = record["old_gen_max_mb"]
    out["trace.op_p50_ms"] = metrics.median([o["ms"] for o in ops])
    if workload == "lake_query":
        out["sql.plan_ms"] = span_p50("sql.plan")
        out["sql.physical_ms"] = span_p50("sql.physical")
        out["dsl.json_compile_ms"] = span_p50("dsl.json_compile")
        for tpl in LAKE_TEMPLATES:
            out[f"lake.tpl.{tpl}.p50_ms"] = metrics.median(
                [o["ms"] for o in ops if o["tpl"] == tpl])
        out["sources.register_ms"] = extra["register_ms"]
        returned = sum(o["rows_out"] for o in ops)
        out["sources.rows_read_per_row_returned"] = (
            out["exec.input_rows"] * len(ops) / returned if returned else 0.0)
        out["stats.files_read_frac"] = extra["files_read_frac"]
        nd = [o["ms"] for o in ops if o["tpl"] == "nd_netcdf"]
        out["nd.rows_per_s"] = section["nc_rows"] * len(nd) / (sum(nd) / 1000.0) if nd else 0.0
    elif workload == "curate_fineweb":
        out["dsl.curate_compile_s"] = extra["compile_s"]
        out["dsl.curate_report_s"] = span_p50("dsl.curate_report", in_loop=False) / 1000.0
        out["catalog.drop_p50_ms"] = span_p50("catalog.drop")
        for op, secs, rows in extra["stages"]:
            out[f"curate.stage.{op}.s"] = secs
            out[f"curate.stage.{op}.rows_out"] = rows
    else:
        prog = extra["progress"]
        state = [p.get("stateOperators", []) for p in prog]
        out["stream.triggers"] = len(prog)
        out["stream.trigger_p50_ms"] = metrics.median(
            [p["durationMs"].get("triggerExecution", 0) for p in prog])
        out["stream.add_batch_ms"] = metrics.median(
            [p["durationMs"].get("addBatch", 0) for p in prog])
        out["stream.state_commit_ms"] = metrics.median(
            [sum(s.get("commitTimeMs", 0) for s in st) for st in state])
        out["stream.state_update_ms"] = metrics.median(
            [sum(s.get("allUpdatesTimeMs", 0) for s in st) for st in state])
        out["stream.state_rows"] = max([sum(s.get("numRowsTotal", 0) for s in st)
                                        for st in state] + [0])
        out["stream.state_mb"] = max([sum(s.get("memoryUsedBytes", 0) for s in st)
                                      for st in state] + [0]) / 1048576.0
    return out


LAKE_TEMPLATES = ["count_scan", "range_filter", "two_col_filter", "group_avg", "bbox",
                  "time_window", "order_limit", "distinct", "dsl_filter", "nd_netcdf",
                  "union_by_name", "tpch_join"]

# every layer metric a traced run reports; a workload that does not load
# a layer reports 0 for it
LAYER_METRICS = (
    ["op_samples", "rows_per_s",
     "exec.jobs_per_op", "exec.jobs_incomplete", "exec.stages_per_op", "exec.tasks_per_op",
     "exec.driver_gap_s", "exec.task_busy_s", "exec.slot_util", "exec.single_task_stage_s",
     "exec.shuffle_write_mb", "exec.spill_mb", "exec.input_rows", "exec.task_gc_s",
     "jvm.gc_s", "jvm.old_gen_max_mb", "trace.op_p50_ms", "sql.plan_ms", "sql.physical_ms",
     "dsl.json_compile_ms", "dsl.curate_compile_s", "dsl.curate_report_s",
     "catalog.drop_p50_ms"]
    + [f"curate.stage.{s['op']}.{m}" for s in stage.FINEWEB_SPEC["stages"]
       for m in ("s", "rows_out")]
    + [f"lake.tpl.{t}.p50_ms" for t in LAKE_TEMPLATES]
    + ["sources.register_ms", "sources.rows_read_per_row_returned", "stats.files_read_frac",
       "nd.rows_per_s"]
    + ["stream.triggers", "stream.trigger_p50_ms", "stream.add_batch_ms",
       "stream.state_commit_ms", "stream.state_update_ms", "stream.state_rows",
       "stream.state_mb"])


def spec():
    """Metric names and units, from the benchmark's declaration."""
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        declared = spec()
    except (OSError, ValueError) as e:
        sys.exit(f"cannot read the benchmark declaration: {e}")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", nproc()))
    if not 1 <= cores <= nproc():
        sys.exit(f"refusing {cores} cores: nproc is {nproc()}")
    try:
        classpath, build_key = build.build()
        oracle_sql = oracles(classpath)
    except (build.BuildError, subprocess.CalledProcessError) as e:
        sys.exit(f"build failed: {e}")
    if not os.path.isdir(stage.DATA):
        sys.exit(f"test tables not found under {stage.DATA}")

    t_begin = time.time()
    deadline = t_begin + RUN_LIMIT_S
    clear_stale(build.OUT)
    work = os.path.join(build.OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        wl = args.workload
        if wl == "lake_query":
            section = stage.stage_lake(work, args.seed)
        elif wl == "curate_fineweb":
            section = stage.stage_curate(work, args.seed, oracle_sql)
        else:
            section = stage.stage_stream(work, args.seed)
        staging_s = time.time() - t0
        key = {"lake_query": "lake", "curate_fineweb": "curate", "stream_ingest": "stream"}[wl]
        plan = {"workload": wl, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
                "cores": cores, "work": work, "testdata": stage.DATA,
                "out": os.path.join(work, "record.json"),
                key: {k: v for k, v in section.items() if not k.startswith("_")}}
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        # leave time for the reference checks after the JVM
        popen_at = run_jvm(classpath, build_key, plan_path, work, deadline - 15)
        with open(plan["out"]) as fh:
            record = json.load(fh)
        setup_s = staging_s + record["loop_start_ms"] / 1000.0 - popen_at
        ok, checks = check(wl, args.seed, section, record, oracle_sql)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(ok) + len(checks)
    failed = ok.count(False) + sum(1 for _, c in checks if not c)
    e2e, e2e_extra = end_to_end(wl, record, setup_s)
    full = {
        "workload": wl, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": {"cores": cores, "nproc": nproc(), "heap": heap(),
                 "mem_total_gb": round(os.sysconf("SC_PAGE_SIZE") *
                                       os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
                 **record["versions"]},
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
        "failed_checks": [n for n, c in checks if not c],
        "op_errors": sorted({o["err"] for o in record["ops"] if o["err"]})[:5],
        "setup": dict(record["setup"], staging_s=staging_s,
                      **{k: v for k, v in record["extra"].items() if k.endswith("write_ms")
                         or k == "register_ms"}),
        "end_to_end": dict(e2e, **e2e_extra),
        "ops": [[o["kind"], o["tpl"], o["ms"], k] for o, k in zip(record["ops"], ok)],
    }
    if args.trace:
        full["per_layer"] = per_layer(wl, section, record, cores, e2e_extra)
        untraced = os.path.join(build.OUT, "results", f"{wl}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]["op_p50_ms"]
            full["trace_overhead_frac"] = full["per_layer"]["trace.op_p50_ms"] / base - 1
        full["spans"] = record["spans"]
        full["exec"] = record["exec"]
    results = os.path.join(build.OUT, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{wl}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(full, fh, indent=1)

    listed = declared["per_layer" if args.trace else "end_to_end"]
    values = full["per_layer"] if args.trace else e2e
    line = json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                       "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                                   for m in listed}},
                      separators=(",", ":"))
    if not args.trace and len(line) > SUMMARY_MAX_CHARS:
        sys.exit(f"summary line is {len(line)} chars, over {SUMMARY_MAX_CHARS}")
    print(line)


if __name__ == "__main__":
    main()
