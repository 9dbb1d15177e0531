"""Span arithmetic for the traced run.

A span is `[id, parent, req, name, start_ms, end_ms]`; parent 0 marks an
operation root. `work` maps a span id (as a string) to the Spark work the
listener charged to that span alone: job/stage/task counts, task times,
shuffle and spill bytes, the first job's start and the stages' active
intervals.
"""
from collections import defaultdict

WORK_SUMS = ("jobs", "stages", "tasks", "task_ms", "cpu_ns", "gc_ms",
             "shuffle_write_bytes", "spill_bytes", "sched_delay_ms")


def union_length(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tree:
    def __init__(self, spans, work=None):
        self.spans = {s[0]: s for s in spans}
        self.work = work or {}
        self.children = defaultdict(list)
        for s in spans:
            self.children[s[1]].append(s[0])

    def duration(self, sid):
        s = self.spans[sid]
        return s[5] - s[4]

    def self_time(self, sid):
        """Duration minus the part of it that child spans cover."""
        s = self.spans[sid]
        kids = [(self.spans[c][4], self.spans[c][5]) for c in self.children[sid]]
        return self.duration(sid) - union_length(kids, s[4], s[5])

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children[x])
        return out

    def work_of(self, sid):
        """Spark work of a span and all its descendants."""
        total = dict.fromkeys(WORK_SUMS, 0)
        first_job, stages = None, []
        for x in self.subtree(sid):
            w = self.work.get(str(x))
            if not w:
                continue
            for k in WORK_SUMS:
                total[k] += w[k]
            fj = w.get("first_job_ms")
            if fj is not None and (first_job is None or fj < first_job):
                first_job = fj
            stages += [tuple(iv) for iv in w["stage_intervals"]]
        total["first_job_ms"] = first_job
        total["stage_intervals"] = stages
        return total

    def driver_gap(self, sid):
        """Span wall time during which none of its stages was running:
        planning, scheduling, driver-side commits and result handling."""
        s = self.spans[sid]
        return self.duration(sid) - union_length(self.work_of(sid)["stage_intervals"], s[4], s[5])

    def named(self, name):
        return [sid for sid, s in self.spans.items() if s[3] == name]

    def roots(self):
        return [sid for sid, s in self.spans.items() if s[1] == 0]
