#!/usr/bin/env python3
"""Daily-feed benchmark of the graft engine (see perfbench/README.md).

    python3 perfbench/run.py --workload <replay-fixture|warehouse-reads>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds into .bench_build/
(perfbench/build.py); every run works in a directory under
.bench_build/work/ and removes it before it exits. The last line of
stdout is the result, {"correct", "attempted", "failed", "metrics"}: with
--trace 0 the end-to-end metrics, with --trace 1 the per-layer census of
a traced run. The line before it records the run's environment.
"""
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

FIXTURES = ROOT / "src" / "test" / "resources" / "fixtures"
BUILD_DIR = ROOT / ".bench_build"
E2E_UNITS = {"setup_s": "s", "cold_op_s": "s", "op_p50_s": "s", "run_s": "s",
             "lake_bytes": "bytes"}


def jvm(work, name, **args):
    """Runs perfbench.Main once; returns (record, launch epoch ms)."""
    out = work / f"{name}.json"
    cmd = build.java_cmd(BUILD_DIR, work, f"-XX:SharedArchiveFile={BUILD_DIR / 'bench.jsa'}")
    for k, v in dict(args, out=out).items():
        cmd += [f"--{k.replace('_', '-')}", str(v)]
    rc, launch = build.run_java(cmd, work, work / f"{name}.log")
    if rc != 0 or not out.is_file():
        sys.stderr.write((work / f"{name}.log").read_text(errors="replace")[-4000:])
        raise RuntimeError(f"JVM {name} failed: {rc}")
    return json.loads(out.read_text()), launch


def generate(work, k, seed):
    t0 = time.perf_counter()
    stats = gen.generate(FIXTURES, work / "in", k, seed)
    return time.perf_counter() - t0, stats


def feed_args(work, stats):
    return dict(feeds=work / "in" / "feeds", days=gen.DAYS,
                feed_rows=",".join(str(s["landed_rows"]) for s in stats))


def end_to_end(walls, setup_s, run_s, lake_bytes):
    return {"setup_s": setup_s, "cold_op_s": walls[0],
            "op_p50_s": statistics.median(walls[1:]), "run_s": run_s,
            "lake_bytes": lake_bytes}


def replay_fixture(a, work):
    """The reference's four feed days, landed one after another in a
    fresh lake and JVM; with --trace 1 the JVM is traced."""
    gen_s, stats = generate(work, 1, a.seed)
    rec, launch = jvm(work, "replay", mode="replay", seconds=a.seconds,
                      trace=a.trace, lakes=work / "lakes", dump=work / "dump",
                      **feed_args(work, stats))
    port = check.PortReplay(ROOT, work / "in" / "port", work / "duck")
    failed = check.replay_failed(rec, port, work / "dump")
    result = end_to_end([op["wall_s"] for op in rec["ops"]],
                        gen_s + (rec["session_ready_ms"] - launch) / 1000,
                        rec["run_s"], rec["lake_bytes"])
    env = dict(rec["env"], op_walls_s=[op["wall_s"] for op in rec["ops"]])
    return env, len(rec["ops"]), failed, result, rec["layers"], rec["trace_errors"], stats


def make_queries(feed_dir, seed, tmp):
    """The read mix. The seed draws keys (from the warehouse's feed) and
    lookup times; time travel goes to the state after a fixed feed day
    (resolved in the JVM)."""
    rng = random.Random(seed)
    con = check.connect(tmp)
    src = f"read_parquet('{feed_dir}/day*.parquet')"
    feed_keys = {"dim_terminals_hist": "terminal", "dim_cards_hist": "card_num",
                 "dim_accounts_hist": "account", "dim_clients_hist": "client"}
    keys = {dim: [r[0] for r in con.execute(
        f"SELECT DISTINCT {col} FROM {src} ORDER BY 1").fetchall()]
        for dim, col in feed_keys.items()}
    # cards whose account changes inside the feed: the rows time travel
    # and as-of lookups must tell apart
    moved = [r[0] for r in con.execute(
        f"SELECT card_num FROM {src} GROUP BY 1 HAVING count(DISTINCT account) > 1 "
        "ORDER BY 1").fetchall()]
    con.close()
    qs = [("point", dim, check.KEYS[dim], rng.choice(keys[dim])) for dim in check.KEYS]
    for dim in check.KEYS:
        pool = moved if dim == build.HISTORY_DIM else keys[dim]
        ts = f"2020-05-0{rng.randint(1, 4)} {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00"
        qs.append(("asof", dim, check.KEYS[dim], rng.choice(pool), ts))
    for _ in range(2):
        day, hour = rng.randint(1, 4), rng.randint(0, 21)
        qs.append(("range", f"2020-05-0{day} {hour:02d}:00:00",
                   f"2020-05-0{day} {hour + 2:02d}:00:00"))
    # time travel to fixed days: which day decides how many rows a read
    # returns, and the seed must not change the mix's cost
    dim = build.HISTORY_DIM
    qs += [("versions", dim), ("readat", dim, 2), ("readat", dim, 4),
           ("readasof", dim, 3), ("changes", dim, 1, 3)]
    return [tuple(str(x) for x in q) for q in qs]


def warehouse_reads(a, work):
    """Rounds of the read mix in a fresh JVM, against the warehouse the
    build landed (build.py); set-up draws the queries and starts the JVM."""
    wh = BUILD_DIR / "warehouse"
    built = json.loads((wh / "build.json").read_text())
    t0 = time.perf_counter()
    queries = make_queries(wh / "port", a.seed, work / "duck")
    qfile = work / "queries.tsv"
    qfile.write_text("".join("\t".join(q) + "\n" for q in queries), encoding="utf-8")
    days = work / "days.tsv"
    days.write_text("".join(
        "\t".join([str(ms)] + [f"{t}={v}" for t, v in sorted(vs.items())]) + "\n"
        for ms, vs in zip(built["day_end_ms"], built["day_versions"])))
    gen_s = time.perf_counter() - t0
    rec, launch = jvm(work, "reads", mode="reads", seconds=a.seconds, trace=a.trace,
                      lake=wh / "lakes" / "r1", days=days, queries=qfile,
                      answers=work / "answers")
    reads = rec["reads"]
    port = check.PortReplay(ROOT, wh / "port", work / "duck", snap=(build.HISTORY_DIM,))
    bad, bad_feeds = check.reads_failures(port, queries, work / "answers", reads,
                                          built["day_versions"])
    for b in bad:
        sys.stderr.write(f"read check failed: {b}\n")
    if built["days_failed"] or not built["k_fold"]:
        sys.stderr.write(f"warehouse build: {built['days_failed']} days failed, k-fold "
                         f"{'holds' if built['k_fold'] else 'does not hold'}\n")
    whole = bool(bad) or built["days_failed"] > 0 or not built["k_fold"]
    per_round = len(reads["feeds"]) // len(reads["passes"])
    failed = sum(whole or not p["ok"] for p in reads["passes"])
    for j, f in enumerate(reads["feeds"]):
        if whole or not f["ok"] or j % per_round in bad_feeds:
            sys.stderr.write(f"change feed failed: {f['error'] or 'answer differs'}\n")
            failed += 1
    attempted = len(reads["passes"]) + len(reads["feeds"])
    untraced = [p["wall_s"] for p in reads["passes"] if not p["traced"]]
    setup_s = gen_s + (rec["session_ready_ms"] - launch) / 1000
    result = end_to_end(untraced, setup_s, reads["run_s"], reads["lake_bytes"])
    layers = errors = None
    if a.trace:
        layers = dict(reads["layers"])
        layers["trace.overhead_s"] = statistics.median(
            [p["wall_s"] for p in reads["passes"] if p["traced"]]) - result["op_p50_s"]
        errors = reads["trace_errors"]
    build_info = {k: built[k] for k in ("feed_days", "days_failed", "k_fold", "layers")}
    env = dict(rec["env"], op_walls_s=[p["wall_s"] for p in reads["passes"]],
               warehouse_build=build_info)
    return env, attempted, failed, result, layers, errors, None


WORKLOADS = {"replay-fixture": replay_fixture, "warehouse-reads": warehouse_reads}


def unit_of(name):
    last = name.rsplit(".", 1)[-1]
    if "bytes" in last:
        return "bytes"
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_s"):
        return "s"
    if last in ("write_amp", "rows_read_per_row_returned"):
        return "ratio"
    return "count"


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    # a terminated run unwinds, so that its JVM is stopped and its work
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.chdir(ROOT)
    build.ensure(ROOT, BUILD_DIR)
    work = BUILD_DIR / "work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        env, attempted, failed, result, layers, errors, stats = \
            WORKLOADS[a.workload](a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    correct = True
    if a.trace:
        for e in errors:
            sys.stderr.write(f"trace reconciliation failed: {e}\n")
        correct = not errors
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in result.items()}
    if stats:
        env = dict(env, feed_days=stats)
    print(json.dumps({"env": dict(env, workload=a.workload, seed=a.seed)},
                     ensure_ascii=False))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
