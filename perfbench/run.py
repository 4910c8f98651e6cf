#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the harness with the program's sources on first use, generates the
workload's tables from --seed, runs perfbench.Harness (timed passes with
every result materialized into a noop sink; with --trace 1 a traced
pass), checks every op's output, and prints the metrics named in
BENCHMARK.json. The last line of stdout is the result JSON. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
RUN_LIMIT_S = 170
# rounds of input generation in set-up, for a median
GEN_ROUNDS = 5
# scale of the relational tables: lineitem gets 6M x SF = 72000 rows, more
# than the 65536-entry grouped stats gate, so corrMatrixBy's histogram and
# bucketed rank regimes both run, while l_suppkey (120 keys) and l_partkey
# (2400 keys) stay on either side of its 1024-key gate. Documents and
# embeddings are sized by gen.TEXT_SF.
SF = 0.012
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def build(work):
    """Compiles the harness and the program (sbt, offline) unless the
    sources are unchanged since the last build; returns the classpath."""
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(src, "graft", "SparkEntry.scala")):
        raise BenchError("program sources (src/main/scala) not found")
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (src, os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(HERE, "target", "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) \
            and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = ("-Dsbt.offline=true -Dsbt.override.build.repos=true "
                       f"-Dsbt.repository.config={repos} -Xmx2g")
    with open(os.path.join(work, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "writeClasspath"], cwd=HERE, env=env, stdout=out,
                            stderr=subprocess.STDOUT, timeout=840).returncode
    if rc != 0 or not os.path.exists(cp_file):
        raise BenchError(f"build failed (see {work}/build.log)")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return open(cp_file).read().strip()


# the columns Ops.scala's spearman_by_* calls rank
RANK_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def spearman_by(data, key):
    """Reference for Corr.corrMatrixBy(lineitem, key, RANK_COLS, "spearman"):
    pandas average ranks within each group, then each group's pearson
    correlation of the ranks, in the same long form (key, c1, c2, corr),
    upper triangle with the diagonal; null where a side has no variance."""
    li = pd.read_parquet(os.path.join(data, "lineitem.parquet"), columns=[key] + RANK_COLS)
    g = li[key]
    ranks = li[RANK_COLS].groupby(g).rank()
    centered = ranks - ranks.groupby(g).transform("mean")
    parts = []
    for i, a in enumerate(RANK_COLS):
        for b in RANK_COLS[i:]:
            sums = pd.DataFrame({"xy": centered[a] * centered[b], "xx": centered[a] ** 2,
                                 "yy": centered[b] ** 2}).groupby(g).sum()
            den = np.sqrt(sums["xx"] * sums["yy"])
            corr = (sums["xy"] / den).where(den > 0)
            parts.append(pd.DataFrame({key: sums.index, "c1": a, "c2": b,
                                       "corr": corr.to_numpy()}))
    return pd.concat(parts, ignore_index=True)


# ops with no DuckDB oracle, checked against a reference computed here
REFERENCES = {
    "spearman_by_suppkey": lambda data: spearman_by(data, "l_suppkey"),
    "spearman_by_partkey": lambda data: spearman_by(data, "l_partkey"),
}


def compare(got, want, tol=1e-9):
    """None when `got` equals `want` up to row order, with floats within
    `tol` and nulls in the same places; else the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    keys = [c for c in sorted(want.columns) if want[c].dtype.kind != "f"]
    got = got.sort_values(keys).reset_index(drop=True)
    want = want[got.columns].sort_values(keys).reset_index(drop=True)
    for c in got.columns:
        a, b = got[c], want[c]
        if b.dtype.kind == "f":
            same = (a.isna() & b.isna()) | ((a - b).abs() <= tol)
        else:
            same = a.astype(str) == b.astype(str)
        if not same.all():
            i = int((~same).to_numpy().argmax())
            return f"row {got.loc[i, keys].to_dict()} {c}: {a[i]!r} != {b[i]!r}"
    return None


def check_outputs(res, wl, data, out):
    """Checks the results the cold pass wrote. Returns ({op: failure
    reason}, {op: result rows})."""
    bad, rows = {}, {}
    oracle = res["oracle"]
    for op, _, _ in wl["ops"]:
        if not os.path.exists(os.path.join(out, "results", op, "_SUCCESS")):
            bad[op] = "no result: " + res["errors"].get(op, "?")
            continue
        got = pq.read_table(os.path.join(out, "results", op)).to_pandas()
        rows[op] = len(got)
        if rows[op] == 0:
            bad[op] = "empty result"
        elif op not in oracle:
            ref = REFERENCES.get(op)
            diff = compare(got, ref(data)) if ref else "no oracle and no reference"
            if diff:
                bad[op] = "reference: " + diff
    if oracle:
        p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "oracle_check.py"),
                            data, os.path.join(out, "results")],
                           capture_output=True, text=True, timeout=60)
        seen = set()
        for line in p.stdout.splitlines():
            word, _, rest = line.partition(" ")
            op = rest.split("  ")[0].strip()
            if word in ("PASS", "FAIL") and op in oracle:
                seen.add(op)
                if word == "FAIL":
                    bad.setdefault(op, "oracle: " + rest[len(op):].strip())
        for op in oracle:
            if op not in seen:
                bad.setdefault(op, "oracle: no verdict")
    return bad, rows


def quantile(xs, p):
    xs = sorted(xs)
    i = p * (len(xs) - 1)
    lo = int(i)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (i - lo)


def end_to_end(res, wl, props, gen_s):
    passes = res["passes"]
    samples = [t for p in passes for t in p["ops"].values()]
    pass_s = statistics.median(p["wall"] for p in passes)
    # the highest percentile with at least ten samples beyond it, fixed by
    # the guaranteed sample count so it names the same rank on every run;
    # none with ten or fewer calls
    n_min = res["min_passes"] * len(wl["ops"])
    tail_p = 1.0 - 10.0 / n_min if n_min > 10 else None
    rows_in = sum(props["rows"][t] for _, _, tables in wl["ops"] for t in tables)
    values = {
        "setup_s": statistics.median(gen_s) + statistics.median(res["session_s"]),
        "pass_s": pass_s,
        "cold_pass_s": res["cold_pass_s"],
        "op_p50_s": statistics.median(samples),
        "rows_per_s": rows_in / pass_s,
    }
    tail = quantile(samples, tail_p) if tail_p is not None else None
    info = {"op_tail_s": tail,
            "op_tail_percentile": round(100 * tail_p, 3) if tail is not None else None,
            "op_samples": len(samples), "peak_rss_mb": res["peak_rss_mb"],
            "passes": len(passes), "rows_in_per_pass": rows_in}
    return values, info


LAYER_SUMS = ["build_s", "probe_jobs", "probe_job_s", "self_s"]


def per_layer(res, rows_out):
    """The traced pass: every op's split summed (task_skew: max)."""
    p = res["traced_pass"]
    tot = {}
    for m in p["ops"].values():
        for k, v in m.items():
            tot[k] = max(tot.get(k, 1.0), v) if k == "spark.task_skew" else tot.get(k, 0.0) + v
    for layer in ("engine", "pipeline"):
        for k in LAYER_SUMS:
            tot.setdefault(f"{layer}.{k}", 0.0)
    tot["catalyst.plans_per_op"] = tot["catalyst.plans"] / len(p["ops"])
    tot["sources.rows_read_per_row_out"] = tot["sources.input_records"] / max(1, rows_out)
    tot["trace.pass_s"] = p["wall"]
    tot["trace.overhead_s"] = p["wall"] - statistics.median(u["wall"] for u in res["passes"])
    return tot


SELF = ["engine.self_s", "pipeline.self_s", "catalyst.self_s", "sources.self_s", "spark.self_s"]


def layer_report(res):
    """Ops ranked by each layer's self time in the traced pass, and how
    much of each op's wall time the self times account for."""
    per = res["traced_pass"]["ops"]
    ops = per.keys()
    lines = ["op self time by layer (traced pass, seconds)",
             "%-24s %8s " % ("op", "wall") + " ".join("%9s" % k.split(".")[0] for k in SELF)]
    for op in sorted(ops, key=lambda o: -per[o]["wall_s"]):
        lines.append("%-24s %8.3f " % (op, per[op]["wall_s"]) +
                     " ".join("%9.3f" % per[op].get(k, 0.0) for k in SELF))
    for k in SELF:
        ranked = sorted(ops, key=lambda o: -per[o].get(k, 0.0))
        top = [f"{o} {per[o][k]:.3f}" for o in ranked if per[o].get(k, 0.0) > 0][:5]
        lines.append(f"top {k}: " + (", ".join(top) if top else "-"))
    worst = max(abs(sum(per[o].get(k, 0.0) for k in SELF) - per[o]["wall_s"]) for o in ops)
    lines.append(f"largest |sum(self) - wall| over ops: {worst:.3f} s")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))["workloads"]
    if a.workload not in workloads:
        raise BenchError(f"unknown workload {a.workload}")
    wl = dict(workloads[a.workload], name=a.workload)
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    os.makedirs(os.path.join(out, "tmp"))
    cp = build(work)
    # the run limit starts after the build, which only a first run pays
    t_start = time.monotonic()

    # set-up: generating the tables the ops read, repeated; the files
    # must not differ
    tables = sorted({t for _, _, ts in wl["ops"] for t in ts})
    gen_s, props = [], None
    for _ in range(GEN_ROUNDS):
        t0 = time.monotonic()
        p = gen.generate(data, a.seed, SF, tables)
        gen_s.append(time.monotonic() - t0)
        if props and p["sha256"] != props["sha256"]:
            raise BenchError("generator is not deterministic")
        props = p
    gk = props["group_key_cardinality"]
    if "lineitem" in tables and not gk["lineitem.l_suppkey"] <= 1024 < gk["lineitem.l_partkey"]:
        raise BenchError(f"l_suppkey and l_partkey do not straddle the 1024-key gate: {gk}")

    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx2g", f"-Djava.io.tmpdir={out}/tmp", "-cp", cp, "perfbench.Harness",
           "--data", data, "--out", out, "--seconds", str(a.seconds), "--trace", a.trace,
           "--ops", ",".join(f"{n}={layer}" for n, layer, _ in wl["ops"]),
           "--tables", ",".join(tables)]
    budget = RUN_LIMIT_S - 25 - (time.monotonic() - t_start)
    with open(os.path.join(work, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"harness exceeded {budget:.0f} s (see {work}/harness.log)")
    if rc != 0:
        raise BenchError(f"harness exited {rc} (see {work}/harness.log)")
    res = json.load(open(os.path.join(out, "result.json")))

    bad, rows = check_outputs(res, wl, data, out)
    attempted = sum(res["attempts"].values())
    failed = sum(res["threw"].values()) + sum(
        res["attempts"][op] - res["threw"].get(op, 0) for op in bad)

    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    if a.trace == "1":
        values = per_layer(res, sum(rows.values()))
        report = layer_report(res)
        with open(os.path.join(work, "layers.txt"), "w") as f:
            f.write(report + "\n")
        print(report)
        info = {}
    else:
        values, info = end_to_end(res, wl, props, gen_s)
    metrics = {}
    for m in wanted:
        if not NAME_RE.fullmatch(m["name"]) or m["name"] not in values:
            raise BenchError(f"metric {m['name']!r} is not produced")
        metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
        print(f"{m['name']} = {values[m['name']]:.6g} {m['unit']}")
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "fail_rate": failed / attempted,
        "failed_ops": bad, **info,
        "input": {k: v for k, v in props.items() if k not in ("sha256", "seed")},
        "op_median_s": {op: statistics.median(p["ops"][op] for p in res["passes"])
                        for op in res["passes"][0]["ops"]}}, sort_keys=True))
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, OSError, ValueError, KeyError, subprocess.SubprocessError) as e:
        log(f"error: {e}")
        sys.exit(2)
