"""Per-layer metrics of a traced run, computed from the tracer's records
(`trace.json`: spans, Spark jobs and stages, SQL executions, query-execution
phase times, streaming progress, codegen fallbacks) and the harness's
timings (`harness.json`).

Every metric is reported on every workload. A layer the workload does not
run reports 0: the `etl` metrics on `queries`, the `ops` metrics on the etl
workloads, and so on. Totals are per round (etl-backlog) or per pass over
the mix (queries).
"""
import json
from pathlib import Path

import stats

SPARK = [("jobs", "count"), ("tasks", "count"), ("executor_cpu_s", "s"),
         ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"), ("job_busy_s", "s"),
         ("driver_gap_s", "s")]
FS = [("read_ops", "count"), ("write_ops", "count"), ("bytes_read", "bytes"),
      ("bytes_written", "bytes")]

UNITS = {
    "etl.read_s": "s", "etl.explode_s": "s", "etl.songs_s": "s", "etl.artists_s": "s",
    "etl.albums_s": "s", "etl.run_s": "s", "etl.jobs": "count",
    "etl.shuffle_write_bytes": "bytes", "etl.json_scans_per_page": "ratio",
    "stream.batches": "count", "stream.pages_per_batch": "ratio",
    "stream.latest_offset_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.wal_commit_ms": "ms", "stream.trigger_ms": "ms",
    "stream.jobs_per_batch": "ratio", "stream.json_scans_per_page": "ratio",
    "stream.unarchived_pages": "count",
    "ops.read.build_s": "s", "ops.read.exhaust_s": "s",
    "ops.lakehouse.build_s": "s", "ops.lakehouse.exhaust_s": "s",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    **{f"spark.{m}": u for m, u in SPARK},
    **{f"spark.read.{m}": u for m, u in SPARK},
    **{f"spark.lakehouse.{m}": u for m, u in SPARK},
    "lakehouse.jobs_per_query": "ratio", "lakehouse.fs_read_ops": "count",
    "lakehouse.fs_write_ops": "count", "lakehouse.bytes_written": "bytes",
    **{f"fs.{m}": u for m, u in FS},
    "expr.codegen_fallbacks": "count",
    "trace.overhead_share": "ratio",
}


class Trace:
    """The tracer's records with jobs and stages tied to spans by tag."""

    def __init__(self, doc):
        self.spans = doc["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.jobs = [j for j in doc["jobs"] if j["end"] >= 0]
        self.stages = doc["stages"]
        self.plans = doc["plans"]
        self.exec_tags = doc["exec_tags"]
        self.progress = doc["progress"]
        self.monitor = doc["monitor"]
        self.codegen_fallbacks = doc["codegen_fallbacks"]

    @staticmethod
    def _has(tags, span):
        return f"gb-span-{span['id']}" in tags.split(",")

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def jobs_of(self, spans):
        return [j for j in self.jobs if any(self._has(j["tags"], s) for s in spans)]

    def stages_of(self, spans):
        return [st for st in self.stages if any(self._has(st["tags"], s) for s in spans)]

    def plans_of(self, spans):
        return [p for p in self.plans
                if any(self._has(self.exec_tags.get(str(p["exec"]), ""), s) for s in spans)]

    def spark(self, spans, per):
        """Spark totals over `spans`, divided by `per` (rounds or passes).
        Busy time is the union of each span's job intervals; the driver gap
        is the span's wall time minus that union, never negative."""
        jobs, st = self.jobs_of(spans), self.stages_of(spans)
        busy = gap = 0.0
        for s in spans:
            wall = (s["end"] - s["start"]) / 1e9
            iv = [((j["start"] - s["start"]) / 1e9, (j["end"] - s["start"]) / 1e9)
                  for j in self.jobs_of([s])]
            b, g = stats.busy_and_gap(wall, iv)
            busy, gap = busy + b, gap + g
        tot = {"jobs": len(jobs), "tasks": sum(x["tasks"] for x in st),
               "executor_cpu_s": sum(x["cpu_ns"] for x in st) / 1e9,
               "shuffle_bytes": sum(x["shuffle_write"] for x in st),
               "spill_bytes": sum(x["spill"] for x in st),
               "job_busy_s": busy, "driver_gap_s": gap}
        return {k: v / per for k, v in tot.items()} if per else {k: 0 for k in tot}

    def fs(self, spans, per):
        return {m: (sum(s["fs"][m] for s in spans) / per if per else 0) for m, _ in FS}

    def plan(self, spans, per):
        ps = self.plans_of(spans)
        return {k: (sum(p[k] for p in ps) / per if per else 0)
                for k in ("analysis_ms", "optimization_ms", "planning_ms")}


def _dur(s):
    return (s["end"] - s["start"]) / 1e9


def _stream(t, spans, n_pages):
    """Streaming metrics over the micro-batches that ran inside `spans`:
    batch counts from StreamMonitor, phase times from the progress events'
    `durationMs` (medians over batches that read data)."""
    windows = [(s["start"], s["end"]) for s in spans]

    def inside(time):
        return any(a <= time <= b for a, b in windows)
    prog = [p for p in t.progress if p["rows"] > 0 and inside(p["end"])]
    nb = sum(1 for b in t.monitor if b["rows"] > 0 and inside(b["start"]))
    jobs = [j for j in t.jobs_of(spans) if j["batch"] != ""]

    def dur(k):
        return stats.median([p["duration_ms"].get(k, 0) for p in prog]) if prog else 0
    return {
        "stream.batches": nb / max(len(spans), 1),
        "stream.pages_per_batch": n_pages / nb if nb else 0,
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.query_planning_ms": dur("queryPlanning"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.jobs_per_batch": len(jobs) / nb if nb else 0,
        "stream.json_scans_per_page": sum(s["json_opens"] for s in spans) / n_pages if n_pages else 0,
    }


def _put(m, prefix, d):
    for k, v in d.items():
        m[f"{prefix}{k}"] = v


def per_layer(workload, h, work, traced_e2e, untraced_e2e):
    t = Trace(json.loads((Path(work) / "trace.json").read_text()))
    m = {k: 0 for k in UNITS}
    m["expr.codegen_fallbacks"] = t.codegen_fallbacks
    base = untraced_e2e["overhead_basis"]
    m["trace.overhead_share"] = (traced_e2e["overhead_basis"] - base) / base if base else 0
    if workload == "etl-backlog":
        n = h["pages"]
        runs, drains = t.named("etl.run"), t.named("stream.drain")
        rounds = len(drains)
        for k in ("read", "explode", "songs", "artists", "albums"):
            m[f"etl.{k}_s"] = stats.median([_dur(s) for s in t.named(f"etl.{k}")])
        m["etl.run_s"] = stats.median([_dur(s) for s in runs])
        m["etl.jobs"] = len(t.jobs_of(runs)) / len(runs)
        m["etl.shuffle_write_bytes"] = sum(x["shuffle_write"] for x in t.stages_of(runs)) / len(runs)
        m["etl.json_scans_per_page"] = sum(s["json_opens"] for s in runs) / (n * len(runs))
        m.update(_stream(t, drains, n * rounds))
        m["stream.unarchived_pages"] = traced_e2e["unarchived_pages"]
        top = runs + drains
    else:
        rounds = len({e["pass"] for e in h["execs"]})
        top = []
        for cls in ("read", "lakehouse"):
            qs = t.named(f"query.{cls}")
            top += qs
            kids = {k: [s for s in t.spans if s["name"] == f"ops.{k}"
                        and t.by_id[s["parent"]]["name"] == f"query.{cls}"]
                    for k in ("build", "exhaust")}
            for k, ss in kids.items():
                m[f"ops.{cls}.{k}_s"] = stats.median([_dur(s) for s in ss]) if ss else 0
            _put(m, f"spark.{cls}.", t.spark(qs, rounds))
            if cls == "lakehouse" and qs:
                m["lakehouse.jobs_per_query"] = len(t.jobs_of(qs)) / len(qs)
                m["lakehouse.fs_read_ops"] = sum(s["fs"]["read_ops"] for s in qs) / len(qs)
                m["lakehouse.fs_write_ops"] = sum(s["fs"]["write_ops"] for s in qs) / len(qs)
                m["lakehouse.bytes_written"] = sum(s["fs"]["bytes_written"] for s in qs) / len(qs)
    _put(m, "spark.", t.spark(top, rounds))
    _put(m, "fs.", t.fs(top, rounds))
    _put(m, "plan.", t.plan(top, rounds))
    return m


def write_spans(work):
    """Spans with their self time, for reading the traced run by hand."""
    doc = json.loads((Path(work) / "trace.json").read_text())
    self_s = stats.self_times(doc["spans"])
    out = [dict(s, self_s=self_s[s["id"]] / 1e9, dur_s=_dur(s)) for s in doc["spans"]]
    path = Path(work) / "spans.json"
    path.write_text(json.dumps(out, indent=1))
    return path
