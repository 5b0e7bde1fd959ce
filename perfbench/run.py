#!/usr/bin/env python3
"""The graft benchmark: one seeded workload, its outputs checked, its metrics
printed.

    python3 perfbench/run.py --workload etl-backlog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt into the checkout; later runs reuse the build. The last
line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with `--trace 0`,
the per-layer metrics with `--trace 1`. The exit code is 1 when an output
is wrong, 2 when the benchmark cannot run. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import layers  # noqa: E402
import pages  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("etl-backlog", "queries")
SETUPS = 3              # input generations per run; setup_s takes their median
CPUS = 2                # local[CPUS]: Spark task threads; the other vCPUs serve the driver, JIT and GC
HEAP = "3g"             # -Xmx only, serial GC: the heap grows with what the program keeps, so RSS tracks it
BACKLOG_PAGES = 16      # pages in the etl-backlog landing dir
BATCH_REPEATS = 5       # PipelineBatch drains of the landing dir per etl-backlog round
WARM_PAGES = 8          # pages of another seed, drained untimed to warm the JVM
WARM_BATCHES = 3        # PipelineBatch drains of the warm-up pages (one stream drain follows)
QUERY_SCALE = 0.01      # scale factor of the queries workload's tables
DEADLINE_S = 165        # all harness JVMs of one run must end this long after the build
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _tree_digest(paths, root=ROOT):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the harness once per source state; return the
    runtime classpath."""
    sources = [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
               HERE / "build.sbt", HERE / "project" / "build.properties", HERE / "src"]
    missing = [str(p.relative_to(ROOT)) for p in sources if not p.exists()]
    if missing:
        raise BenchError(f"not a graft checkout, missing: {', '.join(missing)}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BenchError("sbt and java must be on PATH")
    BUILD.mkdir(exist_ok=True)
    digest = _tree_digest(sources)
    cp_file, stamp = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    log("building engine and harness with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():  # the offline settings the repo's tests use
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    with open(BUILD / "build.log", "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env,
                            stdout=out, stderr=subprocess.STDOUT, timeout=600).returncode
    lines = (BUILD / "build.log").read_text().splitlines()
    cp = next((ln.strip() for ln in reversed(lines) if ".jar" in ln and not ln.startswith("[")), None)
    if rc != 0 or cp is None:
        raise BenchError(f"sbt build failed (exit {rc}), see {BUILD / 'build.log'}")
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


# ---------------------------------------------------------------- inputs

def _dir_digest(d):
    return _tree_digest([Path(d)], root=Path(d))


def make_inputs(workload, seed, work):
    """Generate the workload's inputs SETUPS times from the seed; return the
    parameters for the harness and the median generation time. Every
    generation must give identical bytes."""
    times, digests = [], []
    params = {}
    for k in range(SETUPS):
        gen = work / f"gen{k}"
        t0 = time.monotonic()
        if workload == "queries":
            tables.generate(seed, QUERY_SCALE, gen / "tables")
        else:
            pages.generate(seed, BACKLOG_PAGES, gen / "pages")
            pages.generate(seed + 1, WARM_PAGES, gen / "warm_pages", prefix="warm")
        times.append(time.monotonic() - t0)
        digests.append(_dir_digest(gen))
    if len(set(digests)) != 1:
        raise BenchError("input generation is not deterministic for this seed")
    gen = work / "gen0"
    if workload == "queries":
        names = [n.strip() for n in (HERE / "queries.txt").read_text().splitlines()
                 if n.strip() and not n.startswith("#")]
        random.Random(seed).shuffle(names)
        params.update(data=gen / "tables", queries=",".join(names))
    else:
        params.update(pages=gen / "pages", warm_pages=gen / "warm_pages",
                      batch_repeats=BATCH_REPEATS, warm_batches=WARM_BATCHES)
    return params, stats.median(times)


# ---------------------------------------------------------------- harness

def _cpu_times():
    """Aggregate CPU jiffies from /proc/stat (user .. steal), or None."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    except (OSError, ValueError):
        return None


def run_harness(cp, workload, seconds, trace, work, params, deadline):
    """Launch one harness JVM with `work` as its own dir; kill it at
    `deadline` (monotonic seconds); return its record."""
    work.mkdir()
    props = dict(params, workload=workload, seconds=seconds, trace=trace, cpus=CPUS, work=work)
    pfile = work / "params.properties"
    pfile.write_text("".join(f"{k}={v}\n" for k, v in props.items()))
    (work / "tmp").mkdir(exist_ok=True)
    cmd = ["java", *[x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-XX:+UseSerialGC", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", cp, "graftbench.Main", str(pfile)]
    launched, cpu0 = time.time(), _cpu_times()
    with open(work / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness timed out, see {work / 'jvm.log'}")
        finally:  # also on SIGTERM: the JVM never outlives the run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    hj = work / "harness.json"
    if rc != 0 or not hj.exists():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-15:]
        raise BenchError(f"harness failed (exit {rc}):\n" + "\n".join(tail))
    h = json.loads(hj.read_text())
    cpu1 = _cpu_times()
    if cpu0 and cpu1 and sum(cpu1) > sum(cpu0):
        h["steal_share"] = (cpu1[7] - cpu0[7]) / (sum(cpu1) - sum(cpu0))
    h["jvm_setup_s"] = h["origin_epoch_ms"] / 1000.0 - launched + h["ready_ns"] / 1e9
    return h


# ---------------------------------------------------------------- checks and metrics

def _checkpoint(ckpt):
    """Per micro-batch: (batch id, offsets-log epoch s, commit epoch s, pages).
    Pages come from the file-source log, whose compacted files (`N.compact`)
    repeat earlier batches' entries with their batch ids."""
    ckpt = Path(ckpt)
    pages_of = {}
    src = ckpt / "sources" / "0"
    for f in src.iterdir() if src.exists() else []:
        if f.name.split(".")[0].isdigit() and not f.name.endswith(".crc"):
            for line in f.read_text().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    pages_of.setdefault(e["batchId"], set()).add(Path(e["path"]).name)
    out = []
    commits = ckpt / "commits"
    logs = [c for c in commits.iterdir() if c.name.isdigit()] if commits.exists() else []
    for c in sorted(logs, key=lambda p: int(p.name)):
        b = int(c.name)
        off = ckpt / "offsets" / str(b)
        out.append((b, off.stat().st_mtime_ns / 1e9, c.stat().st_mtime_ns / 1e9,
                    sorted(pages_of.get(b, ()))))
    return out


def check_etl(out, landing, kind):
    """Errors of one drain's output dir against the model."""
    want = (pages.expected_batch if kind == "batch" else pages.expected_stream)(pages.load(landing))
    return pages.compare(want, pages.read_output(out))


def _unarchived(dir_):
    return len(list((Path(dir_) / "inbox").glob("*.json")))


def _stream_per_page(r):
    """Per micro-batch of a round's stream drain that read pages: seconds per
    page from the previous commit (the stream's start for the first batch)
    to this commit, and seconds per page from offset log to commit log."""
    prev, out = r["stream_start_ms"] / 1000.0, []
    for _, off, com, files in _checkpoint(Path(r["dir"]) / "ckpt"):
        if files:
            out.append(((com - prev) / len(files), (com - off) / len(files)))
            prev = com
    return out


def etl_backlog(h, params):
    """All drains of every round checked against the model; stream times per
    page from the checkpoint's offset and commit logs."""
    n = h["pages"]
    res = {"attempted": 0, "failed": 0, "errors": []}
    per_page, commit = [], []
    for r in h["rounds"]:
        outs = [(f"batch_out{i}", "batch") for i in range(len(r["batch_s"]))] + [("stream_out", "stream")]
        for out, kind in outs:
            res["attempted"] += n
            e = check_etl(Path(r["dir"]) / out, params["pages"], kind)
            if e:
                res["failed"] += n
                res["errors"] += [f"{Path(r['dir']).name}/{out}: {x}" for x in e]
        for page_s, commit_s in _stream_per_page(r):
            per_page.append(page_s)
            commit.append(commit_s)
    batch = [b for r in h["rounds"] for b in r["batch_s"]]
    stream = [r["stream_s"] for r in h["rounds"]]
    tail, pct, cnt = stats.tail(per_page)
    ctail, cpct, ccnt = stats.tail(commit)
    res["named"] = {
        "batch_pages_per_s": (stats.median([n / s for s in batch]), "pages/s"),
        "drain_pages_per_s": (stats.median([n / s for s in stream]), "pages/s"),
        "stream_page_p50_s": (stats.median(per_page), "s"),
        f"stream_page_p{pct:g}_s ({cnt} samples)": (tail, "s"),
        "stream_commit_per_page_p50_s": (stats.median(commit), "s"),
        f"stream_commit_per_page_p{cpct:g}_s ({ccnt} samples)": (ctail, "s"),
        "rounds": (len(h["rounds"]), "count"),
    }
    res["metrics"] = {"wall_s": stats.median(batch), "p50_s": stats.median(per_page),
                      "commit_p50_s": stats.median(commit)}
    res["extra"] = {"unarchived_pages": stats.median([_unarchived(r["dir"]) for r in h["rounds"]]),
                    "overhead_basis": stats.median([sum(r["batch_s"]) + r["stream_s"] for r in h["rounds"]])}
    return res


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NaN"
        return v
    rows = [tuple(norm(row[i]) for i in order) for row in cur.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=repr)


def check_queries(h, work, params):
    """Errors of the check pass: a query that threw, or a result that differs
    from its DuckDB oracle over the same tables."""
    import duckdb
    oracle = json.loads((work / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{params['data'] / (t + '.parquet')}')")
    errors = {}
    for c in h["check"]:
        name = c["name"]
        if c["error"]:
            errors[name] = c["error"]
        elif name in oracle:
            got = _rows(con, f"SELECT * FROM read_parquet('{work / 'check' / name}/*.parquet')")
            want = _rows(con, oracle[name])
            if got != want:
                errors[name] = (f"differs from oracle: columns {got[0]} vs {want[0]}, "
                                f"rows {len(got[1])} vs {len(want[1])}")
    return errors


def queries(h, params, work):
    """Per-execution latency by class; one result per query checked against
    its oracle."""
    bad = check_queries(h, work, params)
    execs = [e for e in h["execs"] if e["class"] != "pass"]
    res = {"attempted": len(execs) + len(h["check"]),
           "failed": len(bad) + sum(1 for e in execs if e["error"]),
           "errors": [f"{k}: {v}" for k, v in bad.items()]
           + [f"{e['name']} (pass {e['pass']}): {e['error']}" for e in execs if e["error"]]}
    read = [e["s"] for e in execs if e["class"] == "read"]
    lake = [e["s"] for e in execs if e["class"] == "lakehouse"]
    walls = [e["s"] for e in h["execs"] if e["class"] == "pass"]
    tail, pct, cnt = stats.tail(read)
    ltail, lpct, lcnt = stats.tail(lake)
    res["named"] = {
        "read_query_p50_s": (stats.median(read), "s"),
        f"read_query_p{pct:g}_s ({cnt} samples)": (tail, "s"),
        "lakehouse_query_p50_s": (stats.median(lake), "s"),
        f"lakehouse_query_p{lpct:g}_s ({lcnt} samples)": (ltail, "s"),
        "queries_wall_s": (stats.median(walls), "s"),
        "passes": (len(walls), "count"),
    }
    res["metrics"] = {"wall_s": stats.median(walls), "p50_s": stats.median(read),
                      "commit_p50_s": stats.median(lake)}
    res["extra"] = {"overhead_basis": stats.median(walls)}
    return res


END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "p50_s": "s", "commit_p50_s": "s",
                    "peak_rss_mb": "MB"}


def measure(workload, h, params, work):
    if workload == "etl-backlog":
        return etl_backlog(h, params)
    return queries(h, params, work)


def _terminate(signum, frame):
    sys.exit(128 + signum)


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        cp = build()
        deadline = time.monotonic() + DEADLINE_S
        work = BUILD / "work" / a.workload
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        params, gen_s = make_inputs(a.workload, a.seed, work)
        h = run_harness(cp, a.workload, a.seconds, 0, work / "untraced", params, deadline)
        # the traced figures come from a JVM of their own, so the untraced
        # ones above never share a process with the tracer
        ht = (run_harness(cp, a.workload, a.seconds, 1, work / "traced", params, deadline)
              if a.trace else None)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log(f"cannot run: {e}")
        return 2
    res = measure(a.workload, h, params, work / "untraced")
    setup, rss = gen_s + h["jvm_setup_s"], h["peak_rss_kb"] / 1024.0
    res["metrics"].update(setup_s=setup, peak_rss_mb=rss)
    named = dict(res["named"], setup_s=(setup, "s"), peak_rss_mb=(rss, "MB"),
                 failed_share=(res["failed"] / max(res["attempted"], 1), "ratio"))
    steal = f"{100 * h['steal_share']:.1f}%" if "steal_share" in h else "n/a"
    print(f"# {a.workload} seed {a.seed}: load_avg {h['load_avg']:.2f}, "
          f"effective cores {h['cores']}, cpu steal {steal}")
    for k, (v, unit) in named.items():
        print(f"{k} = {v:.6g} {unit}")
    if ht:
        traced = measure(a.workload, ht, params, work / "traced")
        res["attempted"] += traced["attempted"]
        res["failed"] += traced["failed"]
        res["errors"] += traced["errors"]
        metrics = layers.per_layer(a.workload, ht, work / "traced", dict(traced["metrics"], **traced["extra"]),
                                   dict(res["metrics"], **res["extra"]))
        units = layers.UNITS
        log(f"spans with self times: {layers.write_spans(work / 'traced')}")
    else:
        metrics, units = res["metrics"], END_TO_END_UNITS
    for e in res["errors"]:
        log(f"MISMATCH {e}")
    print(json.dumps({"correct": not res["errors"], "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}))
    return 1 if res["errors"] else 0


if __name__ == "__main__":
    sys.exit(main())
