#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload pipelines|query_suite|service_loop \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. The first run in a checkout compiles the
library with the benchmark's JVM side (perfbench/build.sbt) into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse that build
while the sources are unchanged.

A run synthesizes its seeded inputs (inputs.py), launches one JVM
(graft.perfbench.Main) that sets up, measures for S seconds and dumps
its outputs, then checks those outputs: against the registry's oracle
SQL in DuckDB, against a second run's output for rows-only queries,
and against the message algebra for the service loop. Everything the
run writes lives under one temporary directory inside the checkout,
removed at exit.

Standard output ends with two JSON lines. The first names every metric
of the workload the way the project's docs do (`geo_e2e_s`,
`svc_publish_p90_ms`, ...), each with its unit and sample count `n`.
The last is the result: {"correct", "attempted", "failed", "metrics"},
where metrics are the end-to-end metrics of BENCHMARK.json (--trace 0)
or its per-layer metrics (--trace 1).
"""
import argparse
import glob
import hashlib
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import inputs  # noqa: E402

# Input scale per workload (lineitem rows; 60000 is the testdata's
# sf0.01) and the tables its queries read. The service loop reads no
# table: its queue connector synthesizes each message from its id.
WORKLOADS = {
    "pipelines": (60000, ["events", "part", "documents"]),
    "query_suite": (60000, inputs.ALL),
    "service_loop": (0, []),
}
SETUP_REPS = 3
PIPELINES = ["geo", "raster", "media", "text", "dedup"]
JVM_TIMEOUT_S = 170
# what Spark needs opened on JDK 17 outside spark-submit (the root
# build.sbt passes the same list to its forked JVMs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _sources():
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, fs in sorted(os.walk(r)):
            for f in sorted(fs):
                yield os.path.join(d, f)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def build():
    """Compile once per source state; return the runtime classpath."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the graft sources (src/main/scala) are missing")
    out = build_dir()
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(out, exist_ok=True)
    log("building into", out)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dperfbench.target={out}/sbt",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-6000:])
        sys.exit(f"perfbench: build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


# ------------------------------------------------------------- checks

def oracle_result(con, sql, cache):
    """The oracle SQL's result in DuckDB. Inputs differ between seeds
    only in row order, so the result is computed once per input content
    (inputs.py and the scale, folded into `cache`) and kept with the
    build: a few registry oracles take DuckDB 5-20 s."""
    if cache is None:
        return con.execute(sql).df()
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(cache, hashlib.sha256(sql.encode()).hexdigest()[:32] + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    df = con.execute(sql).df()
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump(df, fh)
    os.replace(tmp, path)
    return df


def compare_oracle(con, path, sql, cache=None):
    """The registry's oracle contract: same columns, same rows as a
    multiset (every oracle ends in a total ORDER BY, Spark's output is
    compared sorted). Returns an error string or None."""
    got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
    want = oracle_result(con, sql, cache)
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    cols = list(got.columns)
    g = got.sort_values(cols).reset_index(drop=True)
    w = want.sort_values(cols).reset_index(drop=True)
    if g.equals(w) or g.astype(str).equals(w.astype(str)):
        return None
    return "value mismatch"


def compare_twin(con, path, twin):
    """Rows-only outputs: non-empty, and a second run holds the same rows."""
    n = con.execute(f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]
    if n == 0:
        return "empty output"
    diff = con.execute(
        f"SELECT count(*) FROM ((SELECT * FROM read_parquet('{path}/*.parquet') "
        f"EXCEPT ALL SELECT * FROM read_parquet('{twin}/*.parquet')) UNION ALL "
        f"(SELECT * FROM read_parquet('{twin}/*.parquet') "
        f"EXCEPT ALL SELECT * FROM read_parquet('{path}/*.parquet')))").fetchone()[0]
    return f"{diff} rows differ between two runs" if diff else None


def published(pub):
    """Rows the pub/sub sink committed, epoch by epoch: its reader
    contract is that only manifest-listed files are visible."""
    epochs = []
    for m in glob.glob(os.path.join(pub, "_graft_manifest_*")):
        epoch = int(m.rsplit("_epoch_", 1)[1])
        rows = []
        with open(m) as fh:
            for line in fh:
                if line.strip():
                    with open(os.path.join(pub, json.loads(line)["file"])) as f:
                        rows += [json.loads(r) for r in f if r.strip()]
        epochs.append((epoch, rows))
    return [r for _, rows in sorted(epochs, key=lambda e: e[0]) for r in rows]


def check_service(rows, messages):
    """The message algebra (ServiceLoop.messageEvents): 4 chunk messages
    per asset publish downloaded/30, processing/76 and processed/100;
    the stale 53 of the out-of-order chunk is never published."""
    assets = messages // 4
    errs = []
    seen = set()
    last = {}
    for r in rows:
        key = (r["url"], r["stage"], r["progress"])
        if key in seen:
            errs.append(f"published twice: {key}")
        seen.add(key)
        if r["progress"] < last.get(r["url"], (None, -1))[1]:
            errs.append(f"progress moved backwards: {key}")
        last[r["url"]] = (r["stage"], r["progress"])
    if len(last) != assets:
        errs.append(f"{len(last)} assets published, {assets} queued")
    bad = [u for u, s in last.items() if s != ("processed", 100)]
    if bad:
        errs.append(f"{len(bad)} assets did not end processed/100, e.g. {bad[0]}")
    if len(rows) * 4 != messages * 3:
        errs.append(f"publish share {len(rows)}/{messages}, the algebra predicts 3/4")
    return errs[:5]


def check(report, data_dir, cache):
    """Errors found in the run's outputs."""
    import duckdb
    con = duckdb.connect()
    for t in inputs.ALL:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    errs = []
    for o in report["outputs"]:
        try:
            e = (compare_oracle(con, o["path"], o["oracle"], cache) if o["oracle"] is not None
                 else compare_twin(con, o["path"], o["twin"]))
        except Exception as ex:  # a missing or unreadable output is wrong
            e = f"{type(ex).__name__}: {ex}"
        if e:
            errs.append(f"{o['name']}: {e}")
    for d in report["drains"]:
        errs += [f"drain {d['pub']}: {e}"
                 for e in check_service(published(d["pub"]), d["messages"])]
    return errs


def selftest():
    """Planted wrong results must turn every check red."""
    import duckdb
    con = duckdb.connect()
    with tempfile.TemporaryDirectory(dir=".") as d:
        def table(name, sql):
            os.makedirs(os.path.join(d, name))
            con.execute(f"COPY ({sql}) TO '{d}/{name}/part-0.parquet' (FORMAT PARQUET)")
            return os.path.join(d, name)
        good = table("good", "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, v)")
        wrong = table("wrong", "SELECT * FROM (VALUES (1, 'a'), (2, 'c')) t(k, v)")
        empty = table("empty", "SELECT 1 AS k, 'a' AS v WHERE false")
        oracle = "SELECT * FROM (VALUES (2, 'b'), (1, 'a')) t(k, v) ORDER BY k"
        cache = os.path.join(d, "oracle")
        for _ in range(2):  # computed, then read back from the cache
            assert compare_oracle(con, good, oracle, cache) is None
            assert compare_oracle(con, wrong, oracle, cache) == "value mismatch"
        assert compare_twin(con, good, good) is None
        assert compare_twin(con, good, wrong) is not None
        assert compare_twin(con, empty, empty) == "empty output"
    asset = lambda u: [{"url": u, "stage": "downloaded", "progress": 30},
                       {"url": u, "stage": "processing", "progress": 76},
                       {"url": u, "stage": "processed", "progress": 100}]
    rows = asset("a") + asset("b")
    assert check_service(rows, 8) == []
    assert check_service(rows + rows[:1], 8)  # duplicate publish
    assert check_service(rows[:1] + [dict(rows[1], progress=20)] + rows[2:], 8)  # backwards
    assert check_service(rows[:5], 8)  # asset b never processed
    assert check_service(rows, 12)  # an asset never published
    print("selftest: planted wrong outputs are red, correct ones green")


# -------------------------------------------------------------- metrics

def quantile(xs, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    i = int(pos)
    return s[i] if i + 1 >= len(s) else s[i] + (s[i + 1] - s[i]) * (pos - i)


def metric(value, unit, n):
    return {"value": value, "unit": unit, "n": n}


def named_metrics(workload, report, setup_s, failed):
    """Every metric of the workload under its documented name, and in a
    traced run every layer metric it produced."""
    ops = report["ops"]
    passes = report["passes_s"]
    m = {"setup_s": metric(setup_s, "s", 1)}
    if workload == "pipelines":
        for g in PIPELINES:
            xs = [ms / 1000 for k, ms in ops if k == g]
            name = f"{g}_e2e_s"
            m[name] = metric(statistics.median(xs) if xs else None, "s", len(xs))
    elif workload == "query_suite":
        xs = [ms for _, ms in ops]
        m["suite_pass_s"] = metric(sum(passes), "s", len(passes))
        m["suite_query_p50_ms"] = metric(quantile(xs, 0.5), "ms", len(xs))
        m["suite_query_p90_ms"] = metric(quantile(xs, 0.9), "ms", len(xs))
    else:
        xs = [ms for _, ms in ops]
        msgs = sum(d["messages"] for d in report["drains"])
        m["svc_msgs_per_s"] = metric(msgs / sum(passes), "1/s", len(passes))
        m["svc_publish_p50_ms"] = metric(quantile(xs, 0.5), "ms", len(xs))
        m["svc_publish_p90_ms"] = metric(quantile(xs, 0.9), "ms", len(xs))
    m["ops_failed"] = metric(failed, "count", report["attempted"])
    m.update({k: {"value": v} for k, v in report["layers"].items()})
    return m


def end_to_end(report, setup_s):
    """The workload-independent metrics BENCHMARK.json bounds: one pass
    over the workload's unit of work and the median latency of one
    client operation (a pipeline call, a query, a trigger). A run's
    15-60 operations do not support a p90 in the bounded set: it stays
    in the named line, with its n."""
    xs = [ms for _, ms in report["ops"]]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": statistics.median(report["passes_s"]), "unit": "s"},
        "op_p50_ms": {"value": quantile(xs, 0.5), "unit": "ms"},
    }


def per_layer(report):
    """Every per-layer metric BENCHMARK.json lists. A layer the workload
    does not touch reads 0: svc.* on pipelines, the pipeline prefixes on
    the loop."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer"]
    return {m["name"]: {"value": report["layers"].get(m["name"], 0.0), "unit": m["unit"]}
            for m in listed}


# ----------------------------------------------------------------- main

def run(args):
    spec = WORKLOADS[args.workload]
    cp = build()
    t_start = time.perf_counter()
    os.makedirs(build_dir(), exist_ok=True)
    root = tempfile.mkdtemp(prefix="run-", dir=build_dir())
    proc = None
    try:
        for sub in ("tmp", "local", "out", "svc"):
            os.makedirs(os.path.join(root, sub))
        # set-up part 1, repeated for a steady figure: the seeded inputs
        lineitems, tables = spec
        gen_s = []
        for i in range(SETUP_REPS):
            t = time.perf_counter()
            inputs.write(os.path.join(root, f"data{i}"), lineitems, args.seed, tables)
            gen_s.append(time.perf_counter() - t)
        data = os.path.join(root, "data0")
        out = os.path.join(root, "report.json")
        cmd = (["java", "-Xms3g", "-Xmx3g"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Djava.io.tmpdir={root}/tmp", "-cp", cp, "graft.perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--data", data, "--root", root, "--out", out])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(root, "local"))
        with open(os.path.join(root, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(cmd, cwd=root, stdout=jlog, stderr=jlog, env=env)
            proc.wait(timeout=JVM_TIMEOUT_S)
        if proc.returncode != 0 or not os.path.exists(out):
            with open(os.path.join(root, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-6000:])
            sys.exit(f"perfbench: the JVM exited with {proc.returncode}")
        with open(out) as fh:
            report = json.load(fh)
        log(f"JVM exited after {time.perf_counter() - t_start:.1f}s; session start "
            f"{report['nums']['session_s'][0]:.1f}s, set-up {report['nums']['setup_jvm_s'][0]:.1f}s, "
            f"passes {[round(p, 2) for p in report['passes_s']]}")
        for e in report["errors"]:
            log("error:", e)
        content = hashlib.sha256(f"{lineitems}".encode())
        with open(inputs.__file__, "rb") as fh:
            content.update(fh.read())
        errs = check(report, data, os.path.join(build_dir(), "oracle", content.hexdigest()[:16]))
        for e in errs:
            log("wrong output:", e)
        failed = report["failed"] + len(errs)
        correct = failed == 0 and not report["errors"]
        # part 2, once: JVM and session start plus the cold warm-up pass
        setup_s = statistics.median(gen_s) + report["nums"]["setup_jvm_s"][0]
        named = named_metrics(args.workload, report, setup_s, failed)
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "trace": args.trace, "metrics": named}))
        metrics = per_layer(report) if args.trace else end_to_end(report, setup_s)
        print(json.dumps({"correct": correct, "attempted": report["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)


def main():
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        selftest()
    elif args.workload:
        run(args)
    else:
        ap.error("--workload or --selftest is required")


if __name__ == "__main__":
    main()
