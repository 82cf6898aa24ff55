#!/usr/bin/env python3
"""Graft benchmark: runs one workload with one seed and prints its metrics.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness from source (sbt, offline) into perfbench/target and generates the
seeded input tables under .bench_work/data; later runs reuse both while the
sources are unchanged. Each run starts one Spark driver (local[nproc]) in a
fresh directory under .bench_work/run, sets the workload up, warms it up,
measures whole passes for --seconds, checks every result, and prints a
summary line and, last, one JSON object:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 (a separate, traced run) they are its per-layer metrics.
--scale tiny runs every workload on sf0.001-sized inputs in seconds, for the
benchmark's own tests. See perfbench/NOTES.md.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

START = time.time()
ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".bench_work")
RUN_LIMIT_S = 170

# Per workload: input scale (gen_data.py arguments), set-ups per run,
# untimed warm-up passes, and the inputs the warm-up runs on when they are
# not the measured ones. `--scale tiny` shrinks every input to sf0.001 size.
TINY_GEN = ["--sf", "0.001", "--docs-sf", "0.001"]
WORKLOADS = {
    "read_mix": {"gen": ["--sf", "0.01"], "setups": 1, "warmup": 0},
    "write_stream": {"gen": ["--sf", "0.1", "--docs-sf", "0.001"], "setups": 3,
                     "warmup": 1},
    "curate_llm": {"gen": ["--sf", "0.001", "--docs-sf", "0.04"], "setups": 2,
                   "warmup": 1, "warm_gen": TINY_GEN},
}

# offline sbt, as the repository's own test command runs it; its scratch files
# stay in the checkout (it reads the toolchain's sbt and coursier caches)
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData"
                " -Djava.io.tmpdir=" + os.path.join(WORK, "sbt-tmp"),
}
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(*dirs):
    h = hashlib.sha256()
    for d in dirs:
        if os.path.isfile(d):
            h.update(open(d, "rb").read())
        for base, subdirs, files in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles library + harness; returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = tree_hash(os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                      os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
                      os.path.join(BENCH, "project", "build.properties"))
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ, **SBT_ENV)
    os.makedirs(os.path.join(WORK, "sbt-tmp"), exist_ok=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l or "classes" in l]
    if p.returncode != 0 or not lines:
        errors = [l for l in (p.stdout + p.stderr).splitlines() if "[error]" in l]
        sys.stderr.write("\n".join(errors[:40]) + "\n")
        die("build failed")
    cp = re.sub(r"^\[info\] ", "", lines[-1].strip())
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def data_dir(gen_args):
    """Generates (once) the seeded input tables for these arguments."""
    key = hashlib.sha256(json.dumps(gen_args).encode() +
                         open(os.path.join(BENCH, "gen_data.py"), "rb").read())
    out = os.path.join(WORK, "data", key.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "DONE")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_data.py"), out] + gen_args,
                       check=True)
        open(os.path.join(out, "DONE"), "w").close()
    return out


def link_inputs(data, inp):
    os.makedirs(inp)
    for f in os.listdir(data):
        if f.endswith(".parquet"):
            os.link(os.path.join(data, f), os.path.join(inp, f))


def run_jvm(cp, args, conf, data, rundir):
    """Runs the harness; returns its result (dict) or exits non-zero."""
    for i in range(1, conf["setups"] + 1):
        link_inputs(data, os.path.join(rundir, "inputs", f"{args.workload}_{i}"))
    if "warm_gen" in conf:
        link_inputs(data_dir(conf["warm_gen"]),
                    os.path.join(rundir, "inputs", f"{args.workload}_warm"))
    out = os.path.join(rundir, "result.json")
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + os.path.join(rundir, "tmp")] + ADD_OPENS + [
        "-cp", cp, "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", rundir, "--setups", str(conf["setups"]),
        "--warmup-passes", str(conf["warmup"]), "--out", out]
    os.makedirs(os.path.join(rundir, "tmp"))
    env = dict(os.environ, GRAFT_TABLE_DIR=os.path.join(rundir, "tables"),
               SPARK_LOCAL_DIRS=os.path.join(rundir, "spark-local"))
    log_path = os.path.join(WORK, f"{args.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - START)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"run exceeded {RUN_LIMIT_S} s; see {log_path}")
    if proc.returncode != 0 or not os.path.exists(out):
        die(f"harness exited with {proc.returncode}; see {log_path}")
    with open(out) as f:
        return json.load(f)


# ---- result fingerprints, mirrored from graftbench.Canon ----------------

EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _dec(d):
    """Exact decimal value without trailing zeros (Java's
    stripTrailingZeros().toPlainString())."""
    if d == 0:
        return "0"
    s = format(d, "f")
    return s.rstrip("0").rstrip(".") if "." in s else s


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return _dec(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _dec(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - EPOCH
        return "t%d" % ((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "d%d" % (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def lines(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ["\x01".join(canon(r[i]) for i in order) for r in rows]


def fingerprint(cols, rows):
    hashes = sorted(hashlib.sha256(l.encode()).hexdigest() for l in lines(cols, rows))
    return hashlib.sha256(("\x01".join(sorted(cols)) + "\n" + "\n".join(hashes))
                          .encode()).hexdigest()


def oracle_fingerprints(data, sqls):
    """DuckDB oracle result fingerprints, cached per input and SQL text."""
    import duckdb
    key = hashlib.sha256((data + json.dumps(sqls, sort_keys=True)).encode()).hexdigest()
    cache = os.path.join(WORK, "oracle", key[:16] + ".json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")
    fps = {}
    for name, sql in sorted(sqls.items()):
        rel = con.sql(sql)
        fps[name] = fingerprint(rel.columns, rel.fetchall())
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump(fps, f)
    return fps


# ---- pair re-checks: each returned pair against the operator's threshold --

def _tokens(text):
    return re.findall(r"[a-z0-9]+", text.lower())


def _shingles(text):
    t = _tokens(text)
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def _simhash(text):
    v = [0] * 64
    for tok in _tokens(text):
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        for b in range(64):
            v[b] += 1 if (h >> b) & 1 else -1
    return sum(1 << b for b in range(64) if v[b] >= 0)


def check_pairs(data, files):
    """Returns the names of pair operators with a pair that fails its
    threshold (or reports a wrong similarity)."""
    import numpy as np
    import pyarrow.parquet as pq
    bad = []
    docs = vecs = None
    for name, path in sorted(files.items()):
        with open(path) as f:
            cols = json.loads(f.readline())
            rows = [dict(zip(cols, json.loads(l))) for l in f]
        if name in ("q_embed_neardup", "q_semantic_neardup"):
            if vecs is None:
                t = pq.read_table(os.path.join(data, "embeddings.parquet")).to_pydict()
                vecs = {i: np.asarray(e, dtype=np.float64)
                        for i, e in zip(t["vec_id"], t["embedding"])}
            ok = all(float(vecs[r["a_id"]] @ vecs[r["b_id"]]) /
                     (np.linalg.norm(vecs[r["a_id"]]) * np.linalg.norm(vecs[r["b_id"]]))
                     >= 0.1 for r in rows)
        else:
            if docs is None:
                t = pq.read_table(os.path.join(data, "documents.parquet"),
                                  columns=["doc_id", "text"]).to_pydict()
                docs = dict(zip(t["doc_id"], t["text"]))
            if name == "q_simhash":
                ok = all(bin(_simhash(docs[r["a_id"]]) ^ _simhash(docs[r["b_id"]]))
                         .count("1") == r["hamming"] <= 3 for r in rows)
            else:
                ok = True
                for r in rows:
                    a, b = _shingles(docs[r["a_id"]]), _shingles(docs[r["b_id"]])
                    inter = len(a & b)
                    if name == "q_ngram_jaccard":
                        ok &= (inter == r["inter"] >= 3 and len(a) == r["a_size"]
                               and len(b) == r["b_size"])
                    else:  # q_dedup_minhash: Jaccard >= 40%
                        ok &= inter * 100 >= 40 * len(a | b)
        if not ok:
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("run from the root of a graft checkout (src/main/scala/graft is missing)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    conf = dict(WORKLOADS[args.workload])
    gen = TINY_GEN if args.scale == "tiny" else conf["gen"]
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    global START
    START = time.time()  # the run limit excludes the one-time build
    data = data_dir(gen)
    rundir = os.path.join(WORK, "run")
    shutil.rmtree(rundir, ignore_errors=True)
    t_jvm = time.time()
    res = run_jvm(cp, args, conf, data, rundir)
    print(f"[perfbench] jvm {time.time() - t_jvm:.1f} s", file=sys.stderr)

    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])
    expected = oracle_fingerprints(data, res["oracle_sql"])
    bad_pairs = set(check_pairs(data, res["pairs"]))
    for name, counts in sorted(res["oracle"].items()):
        for fp, n in counts.items():
            if fp != expected[name] or name in bad_pairs:
                failed += n
                failures.append(f"{name}: result differs from the oracle" if fp != expected[name]
                                else f"{name}: a returned pair fails its threshold")
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(f"[perfbench] run {time.time() - START:.1f} s", file=sys.stderr)

    m = res["metrics"]
    extra = res["extra"]
    summary = {k: v for k, v in list(m.items()) + list(extra.items())}
    summary["ops_failed_frac"] = {"value": failed / max(1, attempted), "unit": "frac"}
    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          f"passes={len(res['passes_s'])} ops={attempted} "
          f"ops_retried={res['ops_retried']} conflict_retries={res['conflict_retries']}: " +
          ", ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in summary.items()))
    if args.trace:
        layers = res["per_layer"]
        b, p, e = (layers.get(k, 0.0) for k in ("op.build_s", "op.plan_s", "op.exec_s"))
        tot = max(b + p + e, 1e-9)
        print(f"attribution: build {b / tot:.0%}, plan {p / tot:.0%}, exec {e / tot:.0%} "
              f"of op time; jobs x {layers.get('spark.job_floor_ms', 0):.0f} ms floor = "
              f"{layers.get('attr.floor_frac', 0):.0%} of op time; task compute "
              f"{layers.get('spark.task_s_per_op', 0):.3f} core-s per op, "
              f"{layers.get('spark.core_busy_frac', 0):.0%} of cores busy")
        metrics = {d["name"]: {"value": float(layers.get(d["name"], 0.0)), "unit": d["unit"]}
                   for d in spec["per_layer"]}
    else:
        metrics = {d["name"]: m[d["name"]] for d in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
