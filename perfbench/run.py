#!/usr/bin/env python3
"""graft benchmark: one command that builds the program from source,
generates seeded inputs, runs one workload, checks its outputs and prints
every metric by name with its unit.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer metrics (a layer the workload does not use reads
0), and the traced run also writes its spans and a self-time table per
layer.

Other modes (not used for a single measurement):

    python3 perfbench/run.py --steadiness [--workload <name>]
        two sets of ten runs of the same checkout; reports per metric and
        workload whether the spread and the two medians agree within the
        bounds declared in BENCHMARK.json (the spread of setup_s is shown
        but not held to its bound: only its medians are).
    python3 perfbench/run.py --check-names
        checks that BENCHMARK.json is well formed.

Everything the benchmark writes goes under the build directory
($CARGO_TARGET_DIR, default .bench_build) of the checkout.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # tools/compare.py is loaded; leave no cache behind
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
JVM_HEAP = "3g"
STEADINESS_RUNS = 10

# Document corpus: the shape of the sf0.1 `documents` table (30-word
# vocabulary, 10-100 tokens, 5% near-duplicates that repeat an earlier
# document plus one token), replicated ScaleUpBench-style: each copy
# gets its own affine cipher over a-z, which keeps near-duplicates within
# a copy and makes copies disjoint. Bump DOCS_VERSION on any change.
DOCS_VERSION = "docs-v2"
DOCS_BASE = 500
DOCS_COPIES = 2
STREAM_FILES = 100
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = [("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14)]
STRIDE = 100_000_000
CURATE_QUERIES = ["q_quality_filter", "q_pii_scrub", "q_text_repetition",
                  "q_dedup_minhash", "q_dedup_jaccard_prefix", "q_decontaminate_bloom",
                  "q_pipeline_curate", "q_pack_bins"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jvm_timeout_s(seconds):
    """A fixed allowance for set-up, the cold passes and the checks, plus
    a generous multiple of the passes that --seconds adds (about 2 s of
    pass time per second on a 4-core box)."""
    return 60 + 10 * seconds


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def run_child(cmd, timeout, **kw):
    """Runs a child to completion: (exit code, captured output). On
    timeout, or when this process is told to stop, the child is killed and
    waited for; a timeout gives code None. (sbt and java each run as one
    process: the sbt script execs its JVM.)"""
    with subprocess.Popen(cmd, **kw) as p:
        def kill():
            p.kill()
            p.wait()

        def stop(signum, _frame):
            kill()
            raise SystemExit(128 + signum)
        old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            out, _ = p.communicate(timeout=timeout)
            return p.returncode, out
        except subprocess.TimeoutExpired:
            kill()
            return None, None
        finally:
            for s, h in old.items():
                signal.signal(s, h)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program's sources with the harness (perfbench/build.sbt)
    and returns the runtime classpath; reuses it while no source changed."""
    for need in [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "build.sbt")]:
        if not os.path.exists(need):
            raise SystemExit(f"[perfbench] missing {need}: run from the root of a graft checkout")
    out = os.path.join(build_dir(), "build.json")
    digest = source_digest()
    if os.path.exists(out):
        with open(out) as f:
            b = json.load(f)
        if b.get("digest") == digest:
            return b["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness (sbt)")
    t0 = time.time()
    code, out_text = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "-Dsbt.server.autostart=false", "compile",
                                "export Runtime/fullClasspath"],
                               840, cwd=HERE, env=env, stdout=subprocess.PIPE,
                               stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write((out_text or "")[-4000:])
        raise SystemExit("[perfbench] build failed")
    cp = [l for l in out_text.splitlines() if "perfbench" in l and os.pathsep in l][-1].strip()
    os.makedirs(build_dir(), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


# ---------------------------------------------------------------- inputs

def affine(i):
    """ScaleUpBench's i-th alphabet permutation (312 distinct ones)."""
    a = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25][(i // 26) % 12]
    b = i % 26
    return str.maketrans("abcdefghijklmnopqrstuvwxyz",
                         "".join(chr(ord("a") + (a * k + b) % 26) for k in range(26)))


def gen_docs(seed):
    """Builds (or reuses) the seeded document corpus; returns its directory.
    Holds documents.parquet, the stream's input files and a manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = os.path.join(build_dir(), "data", f"{DOCS_VERSION}-s{seed}-b{DOCS_BASE}x{DOCS_COPIES}")
    if os.path.exists(os.path.join(d, "_OK")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "stream"))
    rng = random.Random(seed)
    langs, weights = zip(*LANGS)
    # exactly 5% near-duplicates, each of an original (never of another
    # duplicate), so the cluster structure is the same shape for every seed
    dups = set(rng.sample(range(DOCS_BASE // 20, DOCS_BASE), DOCS_BASE // 20))
    base, originals = [], []
    for i in range(DOCS_BASE):
        if i in dups:
            text = base[rng.choice(originals)][0] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
            originals.append(i)
        base.append((text, rng.choices(langs, weights)[0]))
    perms = rng.sample(range(312), DOCS_COPIES)
    rows = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for c, p in enumerate(perms):
        tr = affine(p)
        for i, (text, lang) in enumerate(base):
            t = text.translate(tr)
            rows["doc_id"].append(i + c * STRIDE)
            rows["text"].append(t)
            rows["lang"].append(lang)
            rows["source"].append(f"src{i % 20}")
            rows["n_chars"].append(len(t))
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])
    table = pa.table(rows, schema=schema)
    pq.write_table(table, os.path.join(d, "documents.parquet"))
    # the stream's input: the "new" documents (Dedup.isNewDoc: doc_id % 5 == 0)
    new = [k for k, i in enumerate(rows["doc_id"]) if i % 5 == 0]
    files = []
    for f in range(STREAM_FILES):
        part = new[f * len(new) // STREAM_FILES:(f + 1) * len(new) // STREAM_FILES]
        name = f"part-{f:05d}.parquet"
        pq.write_table(table.take(part), os.path.join(d, "stream", name))
        files.append({"file": name, "docs": len(part)})
    with open(os.path.join(d, "manifest.json"), "w") as f:
        json.dump({"version": DOCS_VERSION, "seed": seed, "docs": len(rows["doc_id"]),
                   "new_docs": len(new), "copies": perms, "stream_files": files}, f)
    open(os.path.join(d, "_OK"), "w").close()
    return d


# ---------------------------------------------------------------- checks

def load_compare():
    """tools/compare.py's rendering, so hashes match the repo's oracle gate."""
    spec = importlib.util.spec_from_file_location("compare", os.path.join(ROOT, "tools", "compare.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def rows_hash(compare, df):
    cols, rows = compare.frame_rows(df)
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(("\x1f".join(r) + "\n").encode())
    return h.hexdigest(), len(rows)


def oracle_hashes(corpus, sqls):
    """DuckDB running SparkEntry.oracleSql on the generated corpus; cached
    per corpus and SQL text."""
    import duckdb
    compare = load_compare()
    key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(corpus, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{corpus}/documents.parquet'")
    out = {}
    for q, sql in sqls.items():
        out[q] = rows_hash(compare, con.execute(sql).fetchdf())
    con.close()
    with open(path, "w") as f:
        json.dump(out, f)
    return out


def check_batch(corpus, work):
    """(attempted, failed) for the curate_batch outputs vs the DuckDB oracle."""
    import pandas as pd
    compare = load_compare()
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sqls = json.load(f)
    want = oracle_hashes(corpus, sqls)
    failed = 0
    for q in CURATE_QUERIES:
        d = os.path.join(work, "out", q)
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet")) if os.path.isdir(d) else []
        df = pd.concat([pd.read_parquet(os.path.join(d, f)) for f in files], ignore_index=True) \
            if files else None
        got = rows_hash(compare, df) if df is not None else (None, 0)
        if tuple(got) != tuple(want[q]):
            failed += 1
            log(f"CHECK FAILED {q}: spark {got[1]} rows {got[0][:12] if got[0] else None}, "
                f"oracle {want[q][1]} rows {want[q][0][:12]}")
    return len(CURATE_QUERIES), failed


# ---------------------------------------------------------------- trace

def layer_times(spans):
    """Per layer: self time (each span's duration minus the part of it that
    its children cover) and inclusive time (spans not nested in a span of
    the same layer, children included)."""
    kids, by_id = {}, {s["id"]: s for s in spans}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    selfs, incl = {}, {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        iv = sorted((max(lo, c["start_ms"]), min(hi, c["end_ms"])) for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        layer = s["layer"]
        selfs[layer] = selfs.get(layer, 0.0) + max(0.0, (hi - lo) - covered) / 1e3
        p, nested = by_id.get(s["parent"]), False
        while p is not None and not nested:
            nested = p["layer"] == layer
            p = by_id.get(p["parent"])
        if not nested:
            incl[layer] = incl.get(layer, 0.0) + (hi - lo) / 1e3
    return selfs, incl


def summarize_trace(workload, seed, work, metrics):
    path = os.path.join(work, "spans.jsonl")
    with open(path) as f:
        spans = [json.loads(l) for l in f if l.strip()]
    selfs, incl = layer_times(spans)
    keep = os.path.join(build_dir(), "trace")
    os.makedirs(keep, exist_ok=True)
    dst = os.path.join(keep, f"{workload}-s{seed}.spans.jsonl")
    shutil.copyfile(path, dst)
    lines = [f"time per layer, {workload} (seed {seed}, {len(spans)} spans, {dst}):",
             f"  {'layer':<12} {'self s':>9} {'self %':>7} {'inclusive s':>12}"]
    total = sum(selfs.values()) or 1.0
    for layer, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
        lines.append(f"  {layer:<12} {v:9.3f} {100 * v / total:6.1f}% {incl.get(layer, 0.0):12.3f}")
    # tracing overhead: this traced run's wall_s against the latest
    # untraced run of the same workload in this checkout
    base = os.path.join(build_dir(), "results", f"{workload}-trace0.json")
    over = 0.0
    traced_wall = metrics.get("wall_s", {}).get("value")
    if os.path.exists(base) and traced_wall is not None:
        with open(base) as f:
            untraced = json.load(f)["metrics"]["wall_s"]["value"]
        over = traced_wall - untraced
        lines.append(f"  tracing overhead: wall_s {traced_wall:.3f} s traced vs "
                     f"{untraced:.3f} s untraced = {over:+.3f} s")
    else:
        lines.append("  tracing overhead: no untraced run of this workload to compare")
    with open(os.path.join(keep, f"{workload}-s{seed}.summary.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")
    for l in lines:
        print(l)
    out = {f"trace.{k}_self_s": {"value": v, "unit": "s"} for k, v in selfs.items()}
    out["bench.trace_overhead_s"] = {"value": over, "unit": "s"}
    return out


# ---------------------------------------------------------------- run

def load_spec():
    with open(SPEC_PATH) as f:
        return json.load(f)


def run_once(workload, seed, seconds, trace):
    spec = load_spec()
    if workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"[perfbench] unknown workload {workload}")
    cp = build()
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    corpus = gen_docs(seed) if workload.startswith("curate") else ""
    work = os.path.join(build_dir(), "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    # a fixed heap and the throughput collector: G1's concurrent work
    # competes with the tasks for the 4 cores and slows JIT warm-up
    cmd = ["java", *opens, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work}",
           "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.PerfBench",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--data", os.path.join(build_dir(), "data"),
           "--work", work, "--out", out, "--cores", str(cores), "--corpus", corpus]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    code, _ = run_child(cmd, jvm_timeout_s(seconds), cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if code is None:
        raise SystemExit("[perfbench] workload timed out")
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"[perfbench] workload failed (exit {code})")
    with open(out) as f:
        res = json.load(f)
    attempted, failed = res["attempted"], res["failed"]
    if workload == "curate_batch":
        a, b = check_batch(corpus, work)
        attempted, failed = attempted + a, failed + b
    metrics = res["metrics"]
    declared_e2e = [m["name"] for m in spec["end_to_end"]]
    declared_layer = [m["name"] for m in spec["per_layer"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if trace:
        metrics.update(summarize_trace(workload, seed, work, metrics))
        wanted = declared_layer
    else:
        wanted = declared_e2e
    if not trace and failed == 0:
        os.makedirs(os.path.join(build_dir(), "results"), exist_ok=True)
        with open(os.path.join(build_dir(), "results", f"{workload}-trace0.json"), "w") as f:
            json.dump(res, f)
    # every printed name is well formed and declared
    for k in metrics:
        if not NAME_RE.match(k) or k not in units:
            raise SystemExit(f"[perfbench] undeclared or malformed metric name {k!r}")
    printed = {}
    for k in wanted:
        if k in metrics:
            printed[k] = {"value": metrics[k]["value"], "unit": units[k]}
        elif trace:
            printed[k] = {"value": 0.0, "unit": units[k]}  # layer not used here
        else:
            raise SystemExit(f"[perfbench] end-to-end metric {k} was not measured")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": printed}


# ---------------------------------------------------------------- modes

def check_names():
    spec = load_spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + \
            [w["name"] for w in spec["workloads"]]
    bad = [n for n in names if not NAME_RE.match(n)]
    dup = sorted({n for n in names if names.count(n) > 1})
    big = [m["name"] for m in spec["end_to_end"] if not 0 < m["bound"] <= 0.25]
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    ok = not bad and not dup and not big and setup and setup[0]["bound"] == max(
        m["bound"] for m in spec["end_to_end"])
    print(json.dumps({"ok": bool(ok), "malformed": bad, "duplicate": dup, "bad_bound": big,
                      "names": len(names)}))
    return 0 if ok else 1


def spread(vals):
    q = statistics.quantiles(vals, n=4)
    m = statistics.median(vals)
    return (q[2] - q[0]) / m if m else float("inf"), m


def steadiness(workloads, seconds):
    """Two sets of ten runs of this checkout, seeds 1..10 in each. Every
    spread must stay within its metric's bound, except that of setup_s,
    which is judged on its medians only, as the benchmark contract has it."""
    spec = load_spec()
    sets = []
    for k in range(2):
        per = {w: {} for w in workloads}
        for w in workloads:
            for seed in range(1, STEADINESS_RUNS + 1):
                res = run_once(w, seed, seconds, False)
                if not res["correct"]:
                    log(f"{w} seed {seed}: outputs incorrect")
                for m, v in res["metrics"].items():
                    per[w].setdefault(m, []).append(v["value"])
                log(f"set {k + 1} {w} seed {seed}: " + " ".join(
                    f"{m}={v['value']:.4g}" for m, v in res["metrics"].items()))
        sets.append(per)
    ok = True
    print(f"{'workload':<14} {'metric':<18} {'bound':>6} {'spread1':>8} {'spread2':>8} "
          f"{'median1':>10} {'median2':>10} {'worse':>7}  verdict")
    for w in workloads:
        for m in spec["end_to_end"]:
            n, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            s1, m1 = spread(sets[0][w][n])
            s2, m2 = spread(sets[1][w][n])
            worse = ((m2 - m1) / m1 if lower else (m1 - m2) / m1) if m1 else 0.0
            spread_gated = n != "setup_s"
            good = worse <= bound and (not spread_gated or (s1 <= bound and s2 <= bound))
            ok &= good
            print(f"{w:<14} {n:<18} {bound:6.2f} {s1:8.4f} {s2:8.4f} {m1:10.4g} {m2:10.4g} "
                  f"{worse:+7.3f}  {'ok' if good else 'DISAGREE'}"
                  f"{'' if spread_gated else ' (medians only)'}")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steadiness", action="store_true")
    ap.add_argument("--check-names", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(SPEC_PATH):
        raise SystemExit("[perfbench] BENCHMARK.json not found: run from the root of a graft checkout")
    if a.check_names:
        return check_names()
    seconds = a.seconds if a.seconds is not None else load_spec()["run_seconds"]
    if a.steadiness:
        ws = [a.workload] if a.workload else [w["name"] for w in load_spec()["workloads"]]
        return steadiness(ws, seconds)
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(run_once(a.workload, a.seed, seconds, bool(a.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
