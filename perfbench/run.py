#!/usr/bin/env python3
"""Layered cold-path benchmark of the graft engine.

    python3 perfbench/run.py --workload daily_pipeline --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark's JVM client with sbt (offline); later runs reuse the build while
the sources are unchanged. Each run then generates its inputs from the
seed, starts one JVM under `local[nproc]`, times every registered-function
call in three phases (construction, planning, execution), checks the
results apart from the engine, and prints one JSON object as its last
stdout line. `--trace 0` reports the end-to-end metrics; `--trace 1`
reports the per-layer metrics from the listener trace. Everything a run
writes goes under `.bench_build/` and its per-run work root is removed at
exit. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402

HEAP = "3g"
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

DAILY_STAGES = [
    ("upsert", ["src_incremental_merge", "q_upsert_latest"]),
    ("pit_features", ["q_window_pit", "q_asof_join"]),
    ("eda_features", ["f_null_safe_ratio", "f_drop_nulls", "f_comp_diff", "f_binary_label"]),
    ("train", ["f_standard_scale", "f_train_test_split", "ml_logreg_step2"]),
    ("score", ["ml_batch_score", "ml_roc_auc_dist", "ml_eval_metrics"]),
]
CORPUS_STAGES = [
    ("admit", ["stream_corpus_admit", "stream_quality_admit"]),
    ("dedup", ["dedup_minhash_lsh", "dedup_pipeline"]),
    ("clean", ["text_redact", "corpus_quality_gate"]),
    ("pack", ["corpus_pack_bpe", "corpus_pack_split"]),
    # the batch's embedding indexes: one brute-force and one graph-ANN
    # serve, the ANN constructions with the least job floor
    ("index", ["ann_bruteforce", "ann_graph_search"]),
]

# input sizes (see README: "Inputs")
DAILY_SF = 0.03          # the season at its full size (the last day)
CORPUS_STANDING = 500    # standing documents before the first batch
CORPUS_GROWTH = 40       # standing documents added per batch
CORPUS_BATCH = 150       # arriving documents per batch (ids = 0 mod 10)
CORPUS_EXACT = 15        # exact copies of standing documents per batch
CORPUS_NEAR = 15         # word-edit near copies per batch
CORPUS_VECTORS = 500     # embeddings the index stage builds on
WARMUP_SHARE = 0.2       # warm-up inputs are this share of the timed ones
# rounds run even past --seconds, so every run has the same op count at the
# default run length: 3 days, 2 batches
DAILY_MIN_ROUNDS = 3
CORPUS_MIN_ROUNDS = 2
# the shortest op walls seen on a 4-core host (days 4.6-6 s, batches
# 10-12 s), rounded down: rounds are generated for a run of --seconds at
# this pace, so no generated round goes unused at the default run length
DAILY_OP_FLOOR_S = 4.0
CORPUS_OP_FLOOR_S = 8.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")] if d != r else \
                [x for x in dirs if x != "target"]
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compiles the engine and the JVM client once per source state;
    returns the runtime classpath. The class directories sbt compiled into
    are copied under `.bench_build/perfbench/<source hash>/`, and the
    classpath names the copies, so a later compile of other sources (say,
    another revision built in the same checkout) cannot change what a
    cached classpath runs."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("engine sources not found: run from the root of a graft checkout")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    snap = os.path.join(BUILD, h.hexdigest()[:16])
    cp_file = os.path.join(snap, "classpath")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    shutil.rmtree(snap, ignore_errors=True)
    os.makedirs(snap)
    repos = os.path.expanduser("~/.sbt/repositories")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                        "-Dsbt.offline=true -Xmx2g")
    log("building the engine and the benchmark client (sbt, offline)")
    # own process group: the sbt launcher script forks the JVM that
    # compiles, and a timeout must stop both
    sbt = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = sbt.communicate(timeout=800)
    except subprocess.TimeoutExpired:
        os.killpg(sbt.pid, signal.SIGKILL)
        sbt.communicate()
        fail("build timed out")
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(out)
    cps = [l for l in out.splitlines() if "/perfbench/target/" in l and not l.startswith("[")]
    if sbt.returncode != 0 or not cps:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    entries = []
    for i, e in enumerate(cps[-1].strip().split(os.pathsep)):
        if os.path.isdir(e) and os.path.realpath(e).startswith(os.path.realpath(ROOT) + os.sep):
            copy = os.path.join(snap, "classes", str(i))
            shutil.copytree(e, copy)
            e = copy
        entries.append(e)
    cp = os.pathsep.join(entries)
    # the classpath file is written last: it marks the snapshot complete
    with open(cp_file + ".tmp", "w") as fh:
        fh.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    return cp


# --------------------------------------------------------------- inputs

def rounds_for(seconds, min_rounds, op_floor_s):
    """Rounds to generate: `min_rounds`, or more when a run of `seconds`
    at `op_floor_s` an op would start more. Generation counts in setup_s,
    so unused rounds would inflate it; a host faster than the floor ends
    the run when the generated rounds are done."""
    return max(min_rounds, math.ceil(seconds / op_floor_s))


def daily_inputs(con, work, seed, n_days):
    """One season at DAILY_SF; day d holds the season to date (orders and
    lineitems up to the day's cut-off date, events up to the same share of
    the month). Cut-offs are drawn from the seed: the season to date grows
    by 1.5-2.5 % a day from ~78 %."""
    rnd = random.Random(seed)
    gen.dims(con, seed, DAILY_SF)
    gen.facts(con, seed, DAILY_SF)
    gen.documents(con, seed, "documents_g", "SELECT i AS doc_id FROM range(200) r(i)", "d")
    gen.embeddings(con, seed, 100)
    share, shares = 0.78, []
    for _ in range(n_days):
        share = min(1.0, share + rnd.uniform(0.015, 0.025))
        shares.append(share)
    season = os.path.join(work, "in", "season")
    gen.write_dir(con, season, only=[t for t in gen.TABLES if t not in ("orders", "lineitem", "events")])
    days = []
    for d, sh in enumerate(shares):
        out = os.path.join(work, "in", f"day{d:02d}")
        odays, edays_s = int(2404 * sh), int(30 * 86400 * sh)
        gen.write_dir(con, out, shared=season, where={
            "orders": f"o_orderdate < TIMESTAMP '1995-01-01' + to_days({odays})",
            "lineitem": f"l_shipdate < TIMESTAMP '1995-01-01' + to_days({odays})",
            "events": f"ts < TIMESTAMP '2024-01-01' + to_seconds({edays_s})",
        })
        rows = gen.count(con, f"{out}/orders.parquet") + gen.count(con, f"{out}/lineitem.parquet")
        days.append((out, rows))
    return days


def corpus_inputs(con, work, seed, batches):
    """A standing corpus (ids not 0 mod 10) that grows each batch, and per
    batch CORPUS_BATCH arriving documents (ids 0 mod 10, the engine's
    admission delta) of which CORPUS_EXACT are exact copies and CORPUS_NEAR
    word-edit near copies of standing documents drawn from the seed."""
    rnd = random.Random(seed * 7919 + 17)
    gen.dims(con, seed, 0.001)
    gen.facts(con, seed, 0.001)
    gen.embeddings(con, seed, CORPUS_VECTORS)
    n_stand = CORPUS_STANDING + CORPUS_GROWTH * batches
    # standing ids: 10*i + 1..9, in id order
    gen.documents(con, seed, "standing_g",
                  f"SELECT 10 * (i // 9) + 1 + i % 9 AS doc_id FROM range({n_stand}) r(i)", "s")
    shared = os.path.join(work, "in", "shared")
    gen.write_dir(con, shared, sources={"documents": "standing_g"})
    std = con.execute("SELECT doc_id, text FROM standing_g ORDER BY doc_id").fetchall()
    out_batches = []
    for b in range(batches):
        visible = std[:CORPUS_STANDING + CORPUS_GROWTH * b]
        # batch b's ids are shifted by (b + 1) * OFFSET, which keeps them
        # in the admission delta class (0 mod 10) and in their % 100 panel
        base = (b + 1) * gen.OFFSET
        gen.documents(con, seed * 1000 + b, "fresh_g",
                      f"SELECT {base} + 10 * i AS doc_id FROM range({CORPUS_BATCH}) r(i)", "f")
        picks = rnd.sample(range(len(visible)), CORPUS_EXACT + CORPUS_NEAR)
        copies, exact = [], []
        for j, k in enumerate(picks):
            doc_id = base + 10 * j
            src_id, text = visible[k]
            if j < CORPUS_EXACT:
                exact.append((src_id, doc_id))
            else:
                text = word_edit(text, rnd)
            copies.append((doc_id, text))
        con.execute("CREATE OR REPLACE TEMP TABLE copies(doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO copies VALUES (?, ?)", copies)
        n_vis = len(visible)
        con.execute(f"""CREATE OR REPLACE TABLE documents_b AS
          SELECT * FROM (SELECT * FROM standing_g ORDER BY doc_id LIMIT {n_vis})
          UNION ALL
          SELECT f.doc_id, coalesce(c.text, f.text) AS text, f.lang, f.source,
                 length(coalesce(c.text, f.text))::BIGINT AS n_chars
          FROM fresh_g f LEFT JOIN copies c USING (doc_id)""")
        out = os.path.join(work, "in", f"batch{b:02d}")
        gen.write_dir(con, out, sources={"documents": "documents_b"}, shared=shared)
        out_batches.append((out, n_vis + CORPUS_BATCH, exact))
    return out_batches


def word_edit(text, rnd):
    """A near copy: 2-4 seeded word substitutions, insertions or deletions."""
    w = text.split(" ")
    for _ in range(rnd.randint(2, 4)):
        op, i = rnd.randrange(3), rnd.randrange(len(w))
        if op == 0:
            w[i] = rnd.choice(gen.VOCAB)
        elif op == 1:
            w.insert(i, rnd.choice(gen.VOCAB))
        elif len(w) > 10:
            del w[i]
    return " ".join(w)


def make_plan(workload, seed, seconds, work, con):
    """Plan lines for the JVM client, plus what the checker needs."""
    lines, meta = [], {}
    warm = os.path.join(work, "in", "warmup")
    wseed = seed + 1_000_003
    if workload == "daily_pipeline":
        days = daily_inputs(con, work, seed, rounds_for(seconds, DAILY_MIN_ROUNDS, DAILY_OP_FLOOR_S))
        # throwaway input: another, smaller season
        gen.dims(con, wseed, DAILY_SF * WARMUP_SHARE)
        gen.facts(con, wseed, DAILY_SF * WARMUP_SHARE)
        gen.write_dir(con, warm)
        lines.append(["warmup", warm, ",".join(q for _, qs in DAILY_STAGES for q in qs)])
        lines.append(["min_rounds", str(DAILY_MIN_ROUNDS)])
        stages = ";".join(f"{s}:{','.join(qs)}" for s, qs in DAILY_STAGES)
        for d, (out, rows) in enumerate(days):
            lines.append(["op", str(d), f"day{d:02d}", out, str(rows), "all" if d == 0 else "ml_roc_auc_dist", stages])
        meta["dirs"] = {f"day{d:02d}": out for d, (out, _) in enumerate(days)}
    elif workload == "corpus_chain":
        batches = corpus_inputs(con, work, seed, rounds_for(seconds, CORPUS_MIN_ROUNDS, CORPUS_OP_FLOOR_S))
        n_warm = int((CORPUS_STANDING + CORPUS_BATCH) * WARMUP_SHARE)
        gen.embeddings(con, wseed, int(CORPUS_VECTORS * WARMUP_SHARE))
        gen.documents(con, wseed, "documents_g", f"SELECT i AS doc_id FROM range({n_warm}) r(i)", "w")
        gen.write_dir(con, warm)
        lines.append(["warmup", warm, ",".join(q for _, qs in CORPUS_STAGES for q in qs)])
        lines.append(["min_rounds", str(CORPUS_MIN_ROUNDS)])
        lines.append(["oracle", "text_token_count_bpe"])
        stages = ";".join(f"{s}:{','.join(qs)}" for s, qs in CORPUS_STAGES)
        props = "stream_corpus_admit,dedup_minhash_lsh,dedup_pipeline,corpus_pack_bpe,corpus_pack_split"
        for b, (out, rows, _) in enumerate(batches):
            lines.append(["op", str(b), f"batch{b:02d}", out, str(rows), "all" if b == 0 else props, stages])
        meta["dirs"] = {f"batch{b:02d}": out for b, (out, _, _) in enumerate(batches)}
        meta["exact"] = {f"batch{b:02d}": ex for b, (_, _, ex) in enumerate(batches)}
        meta["docs"] = {f"batch{b:02d}": rows for b, (_, rows, _) in enumerate(batches)}
    else:
        fail(f"unknown workload {workload!r}")
    return lines, meta


# --------------------------------------------------------------- checks

def run_checks(workload, res, meta, dump_root, threads):
    """Returns the op ids that failed (a call raised or an output failed a
    check), the op ids whose outputs failed a check, and notes."""
    failed, wrong, notes = set(), set(), []
    calls = res["calls"]
    oracles = res["oracles"]
    ops_run = [o["id"] for o in res["ops"]]

    def bad(op, why):
        failed.add(op)
        wrong.add(op)
        notes.append(f"{op}: {why}")

    def dump(op, q):
        return check.read_dump(os.path.join(dump_root, op, q))

    for c in calls:
        if not c["ok"]:
            failed.add(c["op"])
            notes.append(f"{c['op']}: {c['query']} raised {c['error'][:200]}")
    if not ops_run:
        return failed, wrong, notes

    # the first round is replayed in full against the DuckDB oracles
    first = res["ops"][0]
    first_round = {o["id"] for o in res["ops"] if o["round"] == first["round"]}
    con = check.connect(meta["dirs"][first["id"]], threads)
    for c in calls:
        if c["op"] not in first_round or not c["ok"] or c["query"] not in oracles:
            continue
        try:
            why = check.replay(con, oracles[c["query"]], dump(c["op"], c["query"]))
        except Exception as e:  # a failed replay or an unreadable dump fails the op
            why = f"replay error {type(e).__name__}: {e}"
        if why:
            bad(c["op"], f"{c['query']} vs oracle: {why}")

    if workload == "daily_pipeline":
        for op in ops_run:
            try:
                why = check.auc_in_range(dump(op, "ml_roc_auc_dist"))
            except Exception as e:
                why = f"{type(e).__name__}: {e}"
            if why:
                bad(op, why)
    elif workload == "corpus_chain":
        for op in ops_run:
            try:
                pcon = check.connect(meta["dirs"][op], threads)
                doc_tokens = pcon.execute(oracles["text_token_count_bpe"]).fetchdf()
                pcon.close()
                why = check.exact_copies_flagged(dump(op, "dedup_minhash_lsh"), dump(op, "stream_corpus_admit"),
                                                 dump(op, "dedup_pipeline"), meta["exact"][op]) or \
                    check.packing(dump(op, "corpus_pack_bpe"), dump(op, "corpus_pack_split"),
                                  doc_tokens, meta["docs"][op])
            except Exception as e:
                why = f"{type(e).__name__}: {e}"
            if why:
                bad(op, why)
    con.close()
    return failed, wrong, notes


# -------------------------------------------------------------- metrics

def end_to_end(res, failed, setup_s):
    ok_ops = [o for o in res["ops"] if o["id"] not in failed]
    if not ok_ops:
        return None
    walls = [o["wall"] for o in ok_ops]
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "rows_per_s": (sum(o["rows"] for o in ok_ops) / sum(walls), "rows/s"),
        "retained_heap_mb": (res["heap_mb"], "MB"),
    }


def per_layer(res):
    m = {k: (v, "s" if k.endswith("_s") else ("B" if k.endswith("_bytes") else "count"))
         for k, v in res["layers"].items()}
    m["GraftSession.start_s"] = (res["start_s"], "s")
    m["GraftSession.warmup_s"] = (res["warmup_s"], "s")
    m["jvm.gc_s"] = (res["gc_s"], "s")
    return m


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["daily_pipeline", "corpus_chain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", choices=["drop_row", "miss_copy"],
                    help="self-test: damage one checked output and expect a failed op")
    a = ap.parse_args()

    cp = build()
    setup_t0 = time.time()
    threads = len(os.sched_getaffinity(0))
    os.makedirs(os.path.dirname(BUILD), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.dirname(BUILD))
    proc = None

    def cleanup(*_):
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    def on_signal(signum, _frame):
        cleanup()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        con = gen.connect()
        con.execute(f"SET threads = {threads}")
        lines, meta = make_plan(a.workload, a.seed, a.seconds, work, con)
        con.close()
        t_gen = time.time()
        plan = os.path.join(work, "plan.tsv")
        with open(plan, "w") as fh:
            fh.writelines("\t".join(l) + "\n" for l in lines)
        result = os.path.join(work, "result.json")
        trace_dir = os.path.join(os.path.dirname(BUILD), "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_file = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.jsonl")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        cmd = ["java", f"-Xmx{HEAP}"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}/derby",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", plan, result, str(a.seconds), str(a.trace), trace_file]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(threads), SPARK_LOCAL_DIRS=f"{tmp}/local")
        jlog = os.path.join(work, "jvm.log")
        with open(jlog, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=fh, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        t_jvm = time.time()
        with open(jlog, errors="replace") as fh:
            jout = fh.read()
        for l in jout.splitlines():
            if l.startswith("[perfbench]"):
                print(l, file=sys.stderr)
        if rc != 0 or not os.path.isfile(result):
            sys.stderr.write(jout[-4000:])
            fail(f"benchmark JVM exited with {rc}")
        with open(result) as fh:
            res = json.load(fh)
        setup_s = res["first_op_epoch_ms"] / 1000.0 - setup_t0

        dump_root = result + ".d"
        if a.corrupt:
            corrupt(a.corrupt, a.workload, res, dump_root)
        failed, wrong, notes = run_checks(a.workload, res, meta, dump_root, threads)
        for n in notes:
            log(f"FAILED {n}")
        log("op walls: " + " ".join(f"{o['wall']:.2f}" for o in res["ops"][:40]))
        log(f"inputs {t_gen - setup_t0:.1f} s, session {res['start_s']:.1f} s, warm-up {res['warmup_s']:.1f} s, "
            f"JVM {t_jvm - t_gen:.1f} s, checks {time.time() - t_jvm:.1f} s")
        attempted = len(res["ops"])
        e2e = end_to_end(res, failed, setup_s)
        if e2e is None:
            fail("no op completed: nothing to report", 1)
        if a.trace:
            # the traced op_p50_s minus the untraced one is the tracing overhead
            metrics = dict(per_layer(res), **{"trace.op_p50_s": e2e["op_p50_s"]})
        else:
            metrics = e2e
        log(f"{a.workload} seed {a.seed}: {attempted} ops attempted, {len(failed)} failed, "
            f"{res['rounds']} rounds, run {res['run_s']:.1f} s, setup {setup_s:.1f} s, warm-up errors {res['warmup_errors']}")
        for k, (v, unit) in metrics.items():
            print(f"{k} = {v:.6g} {unit}")
        correct = not wrong
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failed),
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        return 0 if correct else 1
    finally:
        cleanup()


def corrupt(kind, workload, res, dump_root):
    """Damages one output the checker reads, to show it is caught."""
    import glob
    import pandas as pd
    first = res["ops"][0]["id"]
    if kind == "drop_row":
        q = {"daily_pipeline": "q_upsert_latest", "corpus_chain": "corpus_quality_gate"}[workload]
        path = os.path.join(dump_root, first, q)
    else:
        if workload != "corpus_chain":
            fail("miss_copy applies to corpus_chain")
        path = os.path.join(dump_root, first, "dedup_minhash_lsh")
    df = check.read_dump(path)
    if kind == "drop_row":
        df = df.iloc[1:]
    else:
        df["n_near_dups"] = 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        os.remove(f)
    df.to_parquet(os.path.join(path, "part-0.parquet"))
    log(f"corrupted {path} ({kind})")


if __name__ == "__main__":
    sys.exit(main())
