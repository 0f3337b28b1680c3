#!/usr/bin/env python3
"""Benchmark of the bearystaspark engine, driven from outside.

    python3 perfbench/run.py --workload recipe_dag --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness and the
engine together (sbt, in perfbench/); later runs reuse the build while
the sources are unchanged. One run:

  1. generates the workload's seeded input tables (DuckDB -> parquet);
  2. `prep` JVM: session set-up, then the engine derives its own inputs
     (the reference log corpus) and writes the oracle SQL;
  3. `measure` JVM: set-up, one cold evaluation, then warm evaluations
     for --seconds;
  4. checks every evaluation's output against the DuckDB oracle
     (recipe workloads) or a union-find closure (near_dup_cc).

set-up is timed in both JVMs; setup_s is their median.

The last line of stdout is one JSON object: correct, attempted, failed
and the metrics (end-to-end with --trace 0, per-layer with --trace 1).
See perfbench/README.md for workloads, metrics and the trace format.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
WORK = ROOT / ".perfbench"
HEAP = "3g"
# both harness JVMs of a run share this many seconds (the build excluded)
JVM_SECONDS = 170
# the key ranges start at a seeded multiple of this period, so every
# small-modulus combination the fixtures branch on exists exactly as in
# a range starting at 0 (960 = lcm(192, 5)); values vary with the seed
KEY_PERIOD = 960
CHAIN = 8               # documents per planted near-duplicate chain

WORKLOADS = {
    # sf0.001-sized key tables (supplier at its sf0.01 size): a 0.7 MB
    # corpus; the DAG's cost is coordination, not data
    "recipe_dag": dict(events=1000, orders=1500, part=200, supplier=100,
                       customer=150),
    "near_dup_cc": dict(documents=20000),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    dirs = [ROOT / "src" / "main", BENCH / "src", BENCH / "project"]
    files = [BENCH / "build.sbt"]
    for d in dirs:
        files += [p for p in d.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles harness + engine once per source state; returns the classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    stamp = WORK / "build" / "classpath.json"
    digest = source_digest()
    if stamp.is_file():
        saved = json.loads(stamp.read_text())
        if saved.get("digest") == digest:
            return saved["classpath"]
    (WORK / "build" / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={Path.home()}/.sbt/repositories "
                   "-Dsbt.offline=true -Xmx3g")
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={WORK / 'build' / 'tmp'}"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    log = WORK / "build" / "sbt.log"
    with open(log, "w") as out:
        rc = subprocess.run(cmd, cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    lines = log.read_text().splitlines()
    if rc != 0:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail(f"build failed (sbt exit {rc}); log in {log}")
    cps = [l for l in lines if os.pathsep in l and "scala-library" in l and not l.startswith("[")]
    if not cps:
        fail(f"could not read the classpath from {log}")
    stamp.write_text(json.dumps({"digest": digest, "classpath": cps[-1].strip()}))
    return cps[-1].strip()


# ---------------------------------------------------------------- inputs

def write_parquet(con, rel, path):
    con.execute(f"COPY ({rel}) TO '{path}' (FORMAT PARQUET)")


def gen_tables(workload, seed, tables):
    import duckdb
    tables.mkdir(parents=True)
    rng = random.Random(f"{workload}:{seed}")
    con = duckdb.connect()
    sizes = {}
    if workload == "near_dup_cc":
        n = WORKLOADS[workload]["documents"]
        ids, texts = gen_documents(rng, n)
        import pandas as pd
        con.register("docs", pd.DataFrame({"doc_id": ids, "text": texts}))
        write_parquet(con, "SELECT doc_id::BIGINT AS doc_id, text::VARCHAR AS text FROM docs",
                      tables / "documents.parquet")
        sizes["documents"] = n
    else:
        keys = {"events": "event_id", "orders": "o_orderkey", "part": "p_partkey",
                "supplier": "s_suppkey", "customer": "c_custkey"}
        for t, k in keys.items():
            n = WORKLOADS[workload][t]
            off = KEY_PERIOD * rng.randrange(1, 1000)
            write_parquet(con, f"SELECT range AS {k} FROM range({off}, {off + n})",
                          tables / f"{t}.parquet")
            sizes[t] = n
    con.close()
    return sizes


def gen_documents(rng, n):
    """Documents of 30-60 words from a 4000-word vocabulary. About 45% of
    them sit in planted near-duplicate groups: stars (variants of one
    base) and chains of CHAIN documents (each edits the previous one, so
    the ends of a chain are connected only through its middle and
    connected components needs several rounds). Every chain has the same
    length, so the round count does not swing with the seed. Ids are a
    seeded permutation, unrelated to group order."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = sorted({"".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
                    for _ in range(4000)})

    def base():
        return [rng.choice(vocab) for _ in range(rng.randint(30, 60))]

    def edit(words, k):
        w = list(words)
        for _ in range(k):
            w[rng.randrange(len(w))] = rng.choice(vocab)
        return w

    docs = []
    while len(docs) < n:
        r = rng.random()
        if r < 0.15:
            b = base()
            docs.append(b)
            docs += [edit(b, rng.randint(0, 3)) for _ in range(rng.randint(1, 4))]
        elif r < 0.22:
            d = base()
            docs.append(d)
            for _ in range(CHAIN - 1):
                d = edit(d, 2)
                docs.append(d)
        else:
            docs.append(base())
    docs = docs[:n]
    ids = rng.sample(range(10 * n), n)
    return ids, [" ".join(d) for d in docs]


# ---------------------------------------------------------------- JVMs

def java_cmd(cp, work, *args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
            "-XX:+UseCodeCacheFlushing", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dperfbench.local={work / 'local'}",
            "-cp", cp, "perfbench.Harness", *args]


def run_jvm(cp, work, cores, deadline, *args):
    """Runs one harness JVM, killed at `deadline` (perf_counter seconds);
    returns seconds from launch to its READY line."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    env.pop("SPARK_GRAFT_CONF", None)
    log = open(work / f"{args[0]}.log", "a")
    t0 = time.perf_counter()
    proc = subprocess.Popen(java_cmd(cp, work, *args), cwd=work, env=env,
                            stdout=subprocess.PIPE, stderr=log, stdin=subprocess.DEVNULL,
                            text=True)
    # reading stdout blocks while the JVM runs, so the kill comes from a timer
    killed = threading.Event()

    def kill():
        killed.set()
        proc.kill()

    killer = threading.Timer(max(0.0, deadline - t0), kill)
    killer.start()
    ready = None
    try:
        for line in proc.stdout:
            if ready is None and line.strip() == "READY":
                ready = time.perf_counter() - t0
        rc = proc.wait()
    finally:
        killer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if killed.is_set():
        rc = f"{rc}, killed after the run's {JVM_SECONDS} s"
    if rc != 0 or ready is None:
        tail = (work / f"{args[0]}.log").read_text(errors="replace").splitlines()[-25:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"harness '{args[0]}' failed (exit {rc})")
    return ready


# ---------------------------------------------------------------- checks

def canon_value(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    return float(v)  # ints, floats and DuckDB decimals compare as floats


def sort_key(row):
    return tuple((0, "") if v is None else
                 (1, v) if isinstance(v, float) else (2, str(v)) for v in row)


def same_rows(got_cols, got, want_cols, want):
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {got_cols} != {want_cols}"
    order = [got_cols.index(c) for c in want_cols]
    g = sorted((tuple(canon_value(r[i]) for i in order) for r in got), key=sort_key)
    w = sorted((tuple(canon_value(v) for v in r) for r in want), key=sort_key)
    if len(g) != len(w):
        return f"{len(g)} rows, oracle {len(w)}"
    for a, b in zip(g, w):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not (x == y or (math.isnan(x) and math.isnan(y))
                        or abs(x - y) <= 2e-6 * max(1.0, abs(y))):
                    return f"value {x} != {y} in row {a}"
            elif x != y:
                return f"value {x!r} != {y!r} in row {a}"
    return None


def oracle_rows(out, tables, queries):
    import duckdb
    con = duckdb.connect()
    for p in tables.glob("*.parquet"):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    want = {}
    for q in queries:
        rel = con.sql((out / "oracle" / f"{q}.sql").read_text())
        want[q] = (list(rel.columns), rel.fetchall())
    con.close()
    return want


def union_find_profile(out, tables):
    """Expected (id -> rep) from the engine's verified pairs, closed by
    union-find, and the cluster-size profile it implies."""
    import duckdb
    ids = [r[0] for r in duckdb.sql(
        f"SELECT doc_id FROM '{tables / 'documents.parquet'}'").fetchall()]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for line in (out / "pairs.csv").read_text().split():
        a, b = map(int, line.split(","))
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    rep = {i: find(i) for i in ids}  # roots are component minima
    sizes = {}
    for r in rep.values():
        sizes[r] = sizes.get(r, 0) + 1
    hist = {}
    for s in sizes.values():
        hist[s] = hist.get(s, 0) + 1
    profile = [(s, c, s * c, (s - 1) * c) for s, c in hist.items()]
    return rep, profile


def check_outputs(workload, out, tables):
    """Checks every evaluation's output. Returns the failed evaluation
    indices, the extra checks attempted and failed (the cluster map),
    and one note per failure."""
    evals = {}
    for line in (out / "outputs.jsonl").read_text().splitlines():
        o = json.loads(line)
        evals.setdefault(o["eval"], []).append(o)
    notes = []
    extra_attempted = extra_failed = 0
    if workload == "near_dup_cc" and not (out / "clusters.csv").is_file():
        return set(), 0, 0, notes  # the harness's check threw; counted by the caller
    if workload == "near_dup_cc":
        rep, profile = union_find_profile(out, tables)
        want = {"cluster_profile": (["cluster_size", "n_clusters", "n_docs", "n_dropped"],
                                    profile)}
        got = dict(tuple(map(int, l.split(","))) for l in
                   (out / "clusters.csv").read_text().split())
        extra_attempted = 1
        if got != rep:
            extra_failed = 1
            bad = sum(1 for i in rep if got.get(i) != rep[i])
            notes.append(f"cluster map: {bad} ids differ from the union-find closure")
    else:
        queries = sorted({o["query"] for os_ in evals.values() for o in os_})
        want = oracle_rows(out, tables, queries)
    failed_evals = set()
    for i, outs in evals.items():
        for o in outs:
            cols, rows = want[o["query"]]
            err = same_rows(o["columns"], o["rows"], cols, rows)
            if err:
                failed_evals.add(i)
                notes.append(f"eval {i} {o['query']}: {err}")
    return failed_evals, extra_attempted, extra_failed, notes


# ---------------------------------------------------------------- report

def tail_percentile(xs):
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    for p in (99, 95, 90, 75):
        if len(xs) * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(xs, n=100)[p - 1]
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    cores = len(os.sched_getaffinity(0))
    work = WORK / f"run-{a.workload}-s{a.seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    for d in ("tmp", "local", "out"):
        (work / d).mkdir(parents=True)
    tables, out = work / "tables", work / "out"
    phases = {}
    try:
        t = time.perf_counter()
        sizes = gen_tables(a.workload, a.seed, tables)
        phases["tables"] = time.perf_counter() - t
        t = time.perf_counter()
        deadline = t + JVM_SECONDS
        setups = [run_jvm(cp, work, cores, deadline, "prep", a.workload, str(tables), str(out))]
        phases["prep_jvm"] = time.perf_counter() - t
        prep = json.loads((out / "prep.json").read_text())
        t = time.perf_counter()
        setups.append(run_jvm(cp, work, cores, deadline, "measure", a.workload, str(tables), str(out),
                              str(a.seconds), str(a.trace)))
        phases["measure_jvm"] = time.perf_counter() - t
        res = json.loads((out / "result.json").read_text())
        t = time.perf_counter()
        failed_evals, extra_att, extra_fail, notes = check_outputs(a.workload, out, tables)
        phases["check"] = time.perf_counter() - t
        if a.trace:
            traces = WORK / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            shutil.copy(out / "trace.jsonl", traces / f"{a.workload}-seed{a.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    evals = res["evals"]
    for i, e in enumerate(evals):
        if e["error"]:
            failed_evals.add(i)
            notes.append(f"eval {i} threw: {e['error']}")
    if res["check_error"]:
        extra_att += 1
        extra_fail += 1
        notes.append(f"check threw: {res['check_error']}")
    # exact counts: every job an evaluation started had ended, its end
    # event delivered, when the drained listener's counts were read
    extra_att += 1
    open_jobs = [e["open_jobs"] for e in evals]
    if any(open_jobs):
        extra_fail += 1
        notes.append(f"jobs still open when the evaluation's counts were read: {open_jobs}")
    # not a failure: concurrent child recipes race to fill shared caches,
    # and a cache a sibling has already filled needs no job of its own
    jobs = [e["jobs"] for e in evals]
    repeat = len(set(jobs)) == 1
    attempted = len(evals) + extra_att
    failed = len(failed_evals) + extra_fail
    warm = [e["wall_s"] for e in evals[1:]]

    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cores={cores} master={res['jvm']['master']} spark={res['jvm']['spark']}")
    print("provenance " + json.dumps({
        "workload": a.workload, "seed": a.seed, "cores": cores,
        "jvm_flags": [f for f in res["jvm"]["flags"] if not f.startswith("--add-opens")
                      and not f.startswith("-Djava.io.tmpdir") and not f.startswith("-Dperfbench")],
        "tables_rows": sizes, "inputs": prep,
        "jobs_per_eval": jobs, "jobs_repeat_exactly": repeat,
        "phase_s": {k: round(v, 2) for k, v in phases.items()}}))
    for n in notes:
        print(f"check: {n}")
    if not repeat:
        print(f"note: Spark jobs per evaluation differ between evaluations: {jobs}")

    if a.trace:
        # every declared per-layer metric; a layer the workload does not reach reads 0
        layer = dict(res["per_layer"], **{"graftsession.start_s": setups[-1]})
        declared = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in declared}
        for k, m in metrics.items():
            print(f"{k} {m['value']:.6g} {m['unit']}")
    else:
        e2e = {
            "eval_p50_s": (statistics.median(warm), "s"),
            "cold_eval_s": (evals[0]["wall_s"], "s"),
            "setup_s": (statistics.median(setups), "s"),
            "cache_peak_mb": (statistics.median(e["cache_peak_bytes"] for e in evals[1:]) / 1e6,
                              "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        tp = tail_percentile(warm)
        print(f"eval_p50_s {e2e['eval_p50_s'][0]:.4f} s (n={len(warm)} warm evaluations"
              + (f"; p{tp[0]} {tp[1]:.4f} s" if tp else "") + ")")
        print(f"cold_eval_s {e2e['cold_eval_s'][0]:.4f} s")
        print(f"setup_s {e2e['setup_s'][0]:.4f} s (median of {len(setups)} JVMs: "
              + ", ".join(f"{s:.3f}" for s in setups) + ")")
        print(f"cache_peak_mb {e2e['cache_peak_mb'][0]:.3f} MB")
        print(f"failed_frac {failed / attempted:.4f} ratio ({failed}/{attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
