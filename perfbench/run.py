#!/usr/bin/env python3
"""Snapshot benchmark of graft: one workload per run, one fresh JVM each.

Usage (from the repository root):
  python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md):
  ingest_trickle  closed-loop freshness path: one small file per micro-batch
  ingest_backlog  catch-up from BEGIN of a staged log in large micro-batches
  serve_replay    point reads over the serving facade plus replay requests

The run compiles graft and the benchmark if the sources changed
(perfbench/build.py), stages the seeded inputs, runs the workload in a JVM
with a fixed heap and local[N], checks every output against the DuckDB
oracle (perfbench/oracle.py) and prints one JSON line last: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

HEAP = "3g"
CORES = 4
BUCKETS = 16
JVM_TIMEOUT_S = 165

# ---- workload sizes --------------------------------------------------------
TRICKLE = dict(convs=3000, turns_per_file=2500, prefix_files=8, round_files=8)
BACKLOG = dict(convs=40000, batches=4, files_per_trigger=2, turns_per_file=25000,
               warm_batches=2, warm_turns_per_file=5000, max_rounds=3)
SERVE = dict(convs=4000, build_files=3, turns_per_file=2500, retain_manifests=64,
             gets_per_round=100, absent_share=0.05, warm_gets=50)
EXTRA = dict(commits=8, turns_per_file=200)  # compaction probe of traced runs
REPLAY_KINDS = ["dump", "inc", "changes", "asof", "tots"]
PROBE_GETS = 20


def zipf_keys(rng, snap, n, absent_share, n_convs):
    """n lookup keys: Zipf over keys ranked by turn count, plus absent keys."""
    ranked = sorted(snap, key=lambda k: (-int(snap[k][5]), k))
    w = 1.0 / np.arange(1, len(ranked) + 1)
    picks = rng.choice(len(ranked), size=n, p=w / w.sum())
    absent = rng.random(n) < absent_share
    return [f"conv-{n_convs + int(rng.integers(0, 10 ** 6)):07d}" if a else ranked[i]
            for i, a in zip(picks, absent)]


def write_ops(path, ops):
    with open(path, "w") as f:
        f.writelines(f"{k}\t{v}\n" for k, v in ops)


def probe_ops(rng, snap, n_convs, ts_mid):
    """Read-layer probe of a traced ingest run: gets, then every replay kind
    (batches counted back from the last commit)."""
    ops = [("get", k) for k in zipf_keys(rng, snap, PROBE_GETS, 0.1, n_convs)]
    return ops + [("dump", "-"), ("inc", "-3"), ("changes", "-3"), ("asof", "-1"), ("tots", str(ts_mid))]


# ---- staging ---------------------------------------------------------------
def stage_trickle(seed, seconds, stage):
    c = TRICKLE
    rounds = seconds // 2 + 2  # more than a run can fold at >= 0.25 s per commit
    n_files = c["prefix_files"] + rounds * c["round_files"]
    log = gen.make_log(seed, n_files * c["turns_per_file"], c["convs"])
    bounds = gen.even_bounds(len(log["ts"]), n_files)
    mtime = int(time.time()) - 86400
    p = c["prefix_files"]
    files = (gen.write_files(log, bounds[:p + 1], f"{stage}/src", mtime, "a") +
             gen.write_files({k: v[bounds[p]:] for k, v in log.items()},
                             [b - bounds[p] for b in bounds[p:]], f"{stage}/pending", mtime + p, "b"))
    plan = dict(src_dir=f"{stage}/src", pending_dir=f"{stage}/pending",
                prefix_files=p, round_files=c["round_files"])
    return plan, dict(files=files, per_trigger=1, convs=c["convs"], ts_mid=int(log["ts"][bounds[p] // 2]))


def stage_backlog(seed, seconds, stage):
    c = BACKLOG
    n_files = c["batches"] * c["files_per_trigger"]
    log = gen.make_log(seed, n_files * c["turns_per_file"], c["convs"])
    mtime = int(time.time()) - 86400
    files = gen.write_files(log, gen.even_bounds(len(log["ts"]), n_files), f"{stage}/log", mtime)
    n_warm = c["warm_batches"] * c["files_per_trigger"]
    warm = gen.make_log(seed + 10 ** 6, n_warm * c["warm_turns_per_file"], c["convs"] // 10, prefix="warm")
    gen.write_files(warm, gen.even_bounds(len(warm["ts"]), n_warm), f"{stage}/warm", mtime)
    plan = dict(log_dir=f"{stage}/log", warm_dir=f"{stage}/warm", batches=c["batches"],
                files_per_trigger=c["files_per_trigger"], max_rounds=c["max_rounds"])
    return plan, dict(files=files, per_trigger=c["files_per_trigger"], convs=c["convs"],
                      ts_mid=int(log["ts"][len(log["ts"]) // 2]))


def stage_serve(seed, seconds, stage):
    c = SERVE
    n = c["build_files"]
    log = gen.make_log(seed, n * c["turns_per_file"], c["convs"])
    mtime = int(time.time()) - 86400
    files = gen.write_files(log, gen.even_bounds(len(log["ts"]), n), f"{stage}/build", mtime)
    snap = oracle.Oracle(files).snapshot()
    rng = np.random.default_rng(seed + 7)

    def round_ops(n_gets):
        keys = zipf_keys(rng, snap, n_gets, c["absent_share"], c["convs"])
        lo, hi = n // 2, n - 2
        params = {"dump": "-", "inc": str(rng.integers(lo, hi + 1)),
                  "changes": str(rng.integers(lo, hi + 1)), "asof": str(rng.integers(lo, hi + 1)),
                  "tots": str(int(log["ts"][rng.integers(0, len(log["ts"]))]))}
        every = max(1, n_gets // len(REPLAY_KINDS))
        ops = []
        for i, k in enumerate(keys):
            ops.append(("get", k))
            if (i + 1) % every == 0 and (i + 1) // every <= len(REPLAY_KINDS):
                kind = REPLAY_KINDS[(i + 1) // every - 1]
                ops.append((kind, params[kind]))
        return ops
    write_ops(f"{stage}/ops.tsv", round_ops(c["gets_per_round"]))
    write_ops(f"{stage}/warm_ops.tsv", round_ops(c["warm_gets"]))
    plan = dict(build_dir=f"{stage}/build", retain_manifests=c["retain_manifests"],
                ops=f"{stage}/ops.tsv", warm_ops=f"{stage}/warm_ops.tsv")
    return plan, dict(files=files, per_trigger=1, convs=c["convs"])


STAGE = {"ingest_trickle": stage_trickle, "ingest_backlog": stage_backlog, "serve_replay": stage_serve}


# ---- checks ----------------------------------------------------------------
def read_tsv(path):
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


def check_state(what, d, orc, n_files, per_trigger):
    """Final table against the oracle and one commit per batch run."""
    folded = orc.files[:n_files]
    kpf = orc.keys_per_file()[:n_files]
    kpb = [set().union(*kpf[i:i + per_trigger]) for i in range(0, n_files, per_trigger)]
    problems = oracle.check_rows(f"{what} table", [tuple(r) for r in read_tsv(f"{d}/table.tsv")],
                                 orc.snapshot(len(folded)))
    problems += oracle.check_commits(
        f"{what} commits", [(int(b), int(n)) for b, n in read_tsv(f"{d}/batches.tsv")],
        sorted((int(b), int(n)) for b, n in read_tsv(f"{d}/lineage.tsv")), kpb)
    return problems, kpb


def check_ops(what, d, orc, n_files, kpb, per_trigger):
    """Lookup bodies and replay outputs against the oracle."""
    final = orc.snapshot(n_files)
    gets = [(r[0], r[1], r[2] if len(r) > 2 else "") for r in read_tsv(f"{d}/gets.tsv")]
    problems = oracle.check_gets(f"{what} get", gets, final)
    block = None
    blocks = []
    for r in read_tsv(f"{d}/replays.tsv"):
        if r[0] == "#":
            block = (r[1], r[2], [])
            blocks.append(block)
        else:
            block[2].append(r)
    for kind, p, rows in blocks:
        tag = f"{what} {kind}({p})"
        if kind == "dump":
            problems += oracle.check_keys(tag, [r[0] for r in rows], final.keys())
        elif kind in ("inc", "changes"):
            b = int(p)
            changed = set().union(*kpb[b + 1:]) if b + 1 < len(kpb) else set()
            if kind == "inc":
                problems += oracle.check_keys(tag, [r[0] for r in rows], changed)
            else:
                problems += oracle.check_rows(tag, [tuple(r) for r in rows],
                                              {k: final[k] for k in changed})
        elif kind == "asof":
            problems += oracle.check_rows(tag, [tuple(r) for r in rows],
                                          orc.snapshot(min(n_files, (int(p) + 1) * per_trigger)))
        elif kind == "tots":
            exp = {k: oracle.without_tools(v) for k, v in orc.snapshot(n_files, int(p)).items()}
            problems += oracle.check_rows(tag, [tuple(r) for r in rows], exp)
    return problems


def verify(workload, out, info, stage, metrics):
    files, per = info["files"], info["per_trigger"]
    if workload == "ingest_trickle":  # the released files, in release order
        files = [f"{stage}/src/{f}" for f in sorted(os.listdir(f"{stage}/src"))]
    orc = oracle.Oracle(files)
    n = len(files)
    dirs = [out]
    if workload == "ingest_backlog":  # one output directory per round
        dirs = [f"{out}/{d}" for d in sorted(os.listdir(out))
                if d.startswith("r") and os.path.isdir(f"{out}/{d}")]
    problems = [] if dirs else ["no round output"]
    for d in dirs:
        p, kpb = check_state(f"{workload} {os.path.basename(d)}", d, orc, n, per)
        problems += p
    if workload == "serve_replay":
        problems += check_ops(workload, f"{out}/ops", orc, n, kpb, per)
    if os.path.isdir(f"{out}/probe"):
        problems += check_ops(f"{workload} probe", f"{out}/probe", orc, n, kpb, per)
    rows = metrics.get("snapshot.state_rows")
    if rows is not None and rows != len(orc.snapshot(n)):
        problems.append(f"{workload}: state store holds {rows} rows, the oracle {len(orc.snapshot(n))} keys")
    return problems


def pq_max_ts(files):
    return oracle.duckdb.execute("SELECT max(epoch_ms(ts)) FROM read_parquet($f)", {"f": files}).fetchone()[0]


# ---- running ---------------------------------------------------------------
def jvm_command(classes, plan_path, work):
    jars = os.path.join(build.spark_jars(), "*")
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # -XX:-UsePerfData: no hsperfdata file outside the run directory
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
            [a for p in opens for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main", plan_path])


def run_jvm(cmd, log_path, deadline):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main():
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="graft snapshot benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(STAGE))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=CORES,
                    help="local[N]; capped at the host's CPU count (default 4)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.ensure()
    t0_us = time.time_ns() // 1000  # set-up starts here; compiling is not set-up
    deadline = time.time() + JVM_TIMEOUT_S
    work = os.path.join(build.build_dir(), f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        stage, out = f"{work}/stage", f"{work}/out"
        for d in (stage, out, f"{work}/tmp"):
            os.makedirs(d)
        plan, info = STAGE[args.workload](args.seed, args.seconds, stage)
        plan.update(workload=args.workload, seconds=args.seconds, trace=args.trace,
                    cores=max(1, min(args.cores, os.cpu_count() or 1)), buckets=BUCKETS,
                    t0_us=t0_us, data=f"{work}/data", out=out)
        if args.trace and args.workload != "serve_replay":
            snap = oracle.Oracle(info["files"]).snapshot()
            p = f"{stage}/probe_ops.tsv"
            write_ops(p, probe_ops(np.random.default_rng(args.seed + 11), snap, info["convs"],
                                   info["ts_mid"]))
            plan["probe_ops"] = p
        if args.trace and args.workload != "ingest_trickle":
            last = pq_max_ts(info["files"])
            n = EXTRA["commits"] * info["per_trigger"]
            extra = gen.make_log(args.seed + 99, n * EXTRA["turns_per_file"], 100, prefix="extra",
                                 t0_ms=last + 1000)
            gen.write_files(extra, gen.even_bounds(len(extra["ts"]), n), f"{stage}/extra",
                            int(time.time()), "z")
            plan["extra_dir"] = f"{stage}/extra"
        plan_path = f"{work}/plan.properties"
        with open(plan_path, "w") as f:
            f.writelines(f"{k}={v}\n" for k, v in plan.items())
        log_path = f"{work}/jvm.log"
        rc = run_jvm(jvm_command(classes, plan_path, work), log_path, deadline)
        if rc != 0:
            with open(log_path, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            sys.exit(f"perfbench: JVM {'timed out' if rc is None else f'exited with {rc}'}")
        with open(f"{out}/result.json") as f:
            res = json.load(f)
        problems = verify(args.workload, out, info, stage, res["metrics"])
        for p in problems[:20]:
            print(f"[perfbench] CHECK FAILED: {p}", file=sys.stderr)
        print(f"[perfbench] {args.workload} seed={args.seed} notes={res['notes']}", file=sys.stderr)
        print(f"[perfbench] all metrics {res['metrics']}", file=sys.stderr)
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        metrics = {}
        for m in wanted:
            v = res["metrics"].get(m["name"])
            if v is None:
                sys.exit(f"perfbench: metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
