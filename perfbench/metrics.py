"""Percentiles and the `exec` layer metrics computed from the traced
run's Spark listener records (`perfbench/src/perfbench/Trace.scala`)."""
import statistics


def percentile(values, p):
    """Linear-interpolated percentile p in [0, 100] of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """The highest of p99/p95/p90/p75/p50 that has at least ten samples
    beyond it: (p, value), or (None, None) below 20 samples."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100.0 >= 10:
            return p, percentile(values, p)
    return None, None


def union_ms(intervals):
    """Total length of the union of [start, end] intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def exec_metrics(jobs, stages, ops, cores, n_ops=None):
    """Per-operation Spark execution metrics.

    jobs:   [job_id, start_ms, end_ms (-1: no end recorded), [stage ids]]
    stages: [stage_id, attempt, tasks, submit_ms, complete_ms, busy_ms,
             gc_ms, shuffle_write_bytes, spill_bytes, input_rows]
    ops:    [(start_ms, end_ms)] of the timed operations (or of their
            parts, with n_ops the number of operations they make up)

    A job belongs to the operation whose interval holds its start. A job
    with no recorded end is counted as incomplete and contributes no
    duration: it is never read as `end - start`.
    """
    n_ops = max(n_ops or len(ops), 1)
    ops = sorted(ops)

    def owner(t):
        for k, (s, e) in enumerate(ops):
            if s <= t <= e:
                return k
        return None

    per_op_jobs = {}
    incomplete = 0
    stage_ids = set()
    for job_id, start, end, sids in jobs:
        k = owner(start)
        if k is None:
            continue
        stage_ids.update(sids)
        if end is None or end < start:
            incomplete += 1
            continue
        per_op_jobs.setdefault(k, []).append((start, min(end, ops[k][1])))
    n_jobs = sum(len(v) for v in per_op_jobs.values()) + incomplete
    wall_ms = sum(e - s for s, e in ops)
    covered = sum(union_ms(v) for v in per_op_jobs.values())

    mine = [s for s in stages if s[0] in stage_ids]
    ran = [s for s in mine if s[3] >= 0 and s[4] >= s[3]]
    busy_ms = sum(s[5] for s in mine)
    return {
        "exec.jobs_per_op": n_jobs / n_ops,
        "exec.jobs_incomplete": incomplete,
        "exec.stages_per_op": len(mine) / n_ops,
        "exec.tasks_per_op": sum(s[2] for s in mine) / n_ops,
        "exec.driver_gap_s": (wall_ms - covered) / 1000.0 / n_ops,
        "exec.task_busy_s": busy_ms / 1000.0 / n_ops,
        "exec.slot_util": busy_ms / (wall_ms * cores) if wall_ms > 0 else 0.0,
        "exec.single_task_stage_s": sum(s[4] - s[3] for s in ran if s[2] == 1) / 1000.0 / n_ops,
        "exec.shuffle_write_mb": sum(s[7] for s in mine) / 1048576.0 / n_ops,
        "exec.spill_mb": sum(s[8] for s in mine) / 1048576.0 / n_ops,
        "exec.input_rows": sum(s[9] for s in mine) / n_ops,
        "exec.task_gc_s": sum(s[6] for s in mine) / 1000.0 / n_ops,
    }


def median(values):
    return statistics.median(values) if values else 0.0
