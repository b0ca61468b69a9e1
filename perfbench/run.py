#!/usr/bin/env python3
"""Benchmark entry point.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (once per checkout, see
build.py), generates the seeded input in a JVM of its own, runs one
benchmark JVM at local[4] and prints the result as the last stdout line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 they
are the per-layer metrics of one traced operation (a layer the workload does
not use reports 0). Everything is read and written under the checkout:
builds in .bench_build/, inputs, logs and span files in .bench_work/.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))

import build  # noqa: E402

WORKLOADS = ["audited-dupheavy", "query-suite"]
HEAP = "3g"
# image corpora: the set-up's warm-up corpus (fixture mix, fixed) and the
# duplicate-heavy input, about 4,100 rows from 2,000 families
WARM_FAMILIES = 200
DUPHEAVY_FAMILIES = 2000
# the query-suite tables are fixed: seed and scale do not follow --seed
TABLES_SEED = 42
TABLES_SCALE = 0.3

END_TO_END = [
    ("setup_s", "s"), ("rows_per_s", "rows/s"), ("suite_s", "s"),
    ("task_core_s", "core-s"), ("heap_live_mb", "MB"), ("pair_recall", "ratio"),
    ("pair_precision", "ratio"),
]
QUERIES = [
    "audit_stage_metrics", "corpus_len_hist", "corpus_source_stats", "dedup_clusters",
    "dedup_clusters_tiered", "dedup_embcos", "dedup_exact", "dedup_exact_hist",
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_pair_degree", "dedup_simhash",
    "dedup_simhash_pairs", "dedup_simhash_pairs_diffgroup", "dedup_stream_flags",
    "dedup_substring", "dedup_tier_hist", "emb_norms", "g7_token_sequences",
    "grouped_simhash", "q1_agg", "q2_join", "q3_window", "q4_semi_anti",
    "q5_events_daily", "q6_join_dims", "score_rollup", "sim_ann_lsh", "sim_cosine_topk",
    "text_fingerprint", "text_langid", "text_quality", "text_rolling_fp",
    "text_subtokens", "text_token_census", "text_tokens",
]
PER_LAYER = [
    ("fingerprints.wall_s", "s"), ("fingerprints.task_core_s", "core-s"),
    ("fingerprints.rows_out", "count"), ("fingerprints.gated_frac", "ratio"),
] + [
    (f"candidates.{g}.{k}", u) for g in ("simhash", "band") for k, u in (
        ("wall_s", "s"), ("task_core_s", "core-s"), ("shuffle_write_mb", "MB"),
        ("jobs", "count"), ("pairs_out", "count"))
] + [
    ("candidates.band.max_task_s", "s"), ("candidates.collapse_ratio", "ratio"),
    ("candidates.union.wall_s", "s"), ("candidates.union.overlap_frac", "ratio"),
    ("candidates.edges_out", "count"),
    ("substring.wall_s", "s"), ("substring.task_core_s", "core-s"),
    ("substring.shuffle_write_mb", "MB"), ("substring.pairs_out", "count"),
    ("clustering.cc.wall_s", "s"), ("clustering.cc.task_core_s", "core-s"),
    ("clustering.cc.serial_s", "s"), ("clustering.cc.jobs", "count"),
    ("clustering.cc.iterations", "count"), ("clustering.cc.converged", "bool"),
    ("clustering.stats.wall_s", "s"), ("clustering.clusters_out", "count"),
    ("clustering.largest_cluster", "count"),
    ("audit.write_s", "s"), ("audit.bytes_written_mb", "MB"), ("audit.write_amp", "ratio"),
    ("audit.stages_committed", "count"),
    ("queries.shared.audited_pipeline_s", "s"), ("queries.shared.tiered_clusters_s", "s"),
] + [(f"query.{q}.wall_s", "s") for q in QUERIES] + [
    ("queries.jobs", "count"),
    ("exec.gc_s", "s"), ("exec.spill_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.peak_task_mem_mb", "MB"),
    ("exec.offcpu_frac", "ratio"),
    ("driver.serial_s", "s"), ("driver.jobs", "count"), ("driver.stages", "count"),
    ("driver.tasks", "count"),
    ("trace.overhead_frac", "ratio"), ("trace.coverage_frac", "ratio"),
]

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def tables(work: Path) -> Path:
    out = work / f"tables-s{TABLES_SEED}-x{TABLES_SCALE}"
    if not (out / "DONE").exists():
        subprocess.run([sys.executable, str(HERE / "gen_tables.py"), str(out),
                        str(TABLES_SEED), str(TABLES_SCALE)], check=True)
        (out / "DONE").write_text("ok\n")
    return out


def corpora(java_cmd: list, work: Path, workload: str, seed: int, log: Path) -> tuple:
    """The warm-up corpus and the workload's input, generated by
    perfbench.Prepare in its own JVM when not on disk yet. That JVM is short,
    so it skips the optimizing JIT, which would cost more than it saves."""
    warm = work / "corpus" / f"warm-f{WARM_FAMILIES}"
    need = {warm: ["--fixture", str(warm), str(WARM_FAMILIES), "42"]}
    if workload == "audited-dupheavy":
        inp = work / "corpus" / f"dupheavy-f{DUPHEAVY_FAMILIES}-s{seed}"
        need[inp] = ["--dupheavy", str(inp), str(DUPHEAVY_FAMILIES), str(seed)]
    else:
        inp = tables(work)
    ready = lambda d: (d / "images" / "_SUCCESS").exists() and (d / "truth" / "_SUCCESS").exists()
    args = [x for d, a in need.items() if not ready(d) for x in a]
    if args:
        with open(log, "w") as err:
            subprocess.run([*java_cmd, "perfbench.Prepare", "--work", str(work), *args],
                           cwd=ROOT, stdout=err, stderr=err, check=True, timeout=170)
    return warm, inp


def oracle_check(java_cmd: list, sf: Path, out: Path, log: Path, timeout: float) -> dict:
    """graft.Verify dumps every query's output, then scripts/compare_oracle.py
    checks it against the DuckDB oracle. Returns pass/fail counts and the row
    count of every dumped query."""
    import duckdb
    shutil.rmtree(out, ignore_errors=True)
    with open(log, "w") as err:
        subprocess.run([*java_cmd, "graft.Verify", str(sf), str(out)], cwd=ROOT,
                       stdout=err, stderr=err, timeout=timeout,
                       env={**os.environ, "SPARK_GRAFT_CPUS": "4"})
    proc = subprocess.run([sys.executable, str(ROOT / "scripts" / "compare_oracle.py"),
                           str(sf), str(out)], stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, cwd=ROOT)
    m = re.search(r"(\d+) pass / (\d+) fail", proc.stdout)
    rows = {}
    con = duckdb.connect()
    for d in sorted(p for p in out.iterdir() if p.is_dir()):
        rows[d.name] = con.sql(
            f"select count(*) from read_parquet('{d}/*.parquet')").fetchone()[0]
    return {"pass": int(m.group(1)) if m else 0, "fail": int(m.group(2)) if m else 1,
            "report": proc.stdout[-3000:], "rows": rows}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    built_now = time.time() - t_start > 5
    work = ROOT / ".bench_work"
    # scratch of earlier runs (temp tables, Spark block dirs) must not pile up
    for d in ("tmp", "spark-local", "audit"):
        shutil.rmtree(work / d, ignore_errors=True)
    for d in ("tmp", "logs", "oracle"):
        (work / d).mkdir(parents=True, exist_ok=True)

    java = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-cp", f"{classes}{os.pathsep}{jars / '*'}"]
    # the DuckDB oracle check of the suite runs once per build, in the
    # checkout's first run (which also builds); every later suite run
    # compares its row counts against it
    sf = tables(work)
    oracle_file = work / "oracle" / f"{classes.name}-{sf.name}.json"
    if not oracle_file.exists():
        oracle = oracle_check(java, sf, work / "verify", work / "logs" / "verify.log", 600)
        oracle_file.write_text(json.dumps(oracle))
        built_now = True
    prepare_java = [java[0], "-XX:TieredStopAtLevel=1", "-Xmx1g",
                    *[x for x in java[1:] if not x.startswith("-Xm")]]
    try:
        warm, inp = corpora(prepare_java, work, a.workload, a.seed, work / "logs" / "prepare.log")
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        fail(f"input generation failed ({e}); log: {work / 'logs' / 'prepare.log'}")

    log = work / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    deadline = t_start + (880 if built_now else 175)
    cmd = [*java, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work), "--warm", str(warm),
           "--input", str(inp), "--deadline", str(deadline)]
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            stdout, _ = proc.communicate(timeout=max(30.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM timed out; log: {log}")
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"benchmark JVM failed (exit {proc.returncode}); log: {log}")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    attempted, failed = res["attempted"], res["failed"]

    if a.workload == "query-suite":
        oracle = json.loads(oracle_file.read_text())
        attempted += oracle["pass"] + oracle["fail"]
        failed += oracle["fail"]
        if oracle["fail"]:
            sys.stderr.write(oracle["report"])
        mism = [q for q, n in res["query_rows"].items() if oracle["rows"].get(q) != n]
        attempted += len(res["query_rows"])
        failed += len(mism)
        if mism:
            print(f"perfbench: row counts differ from the oracle-checked run: {mism}",
                  file=sys.stderr)

    if a.trace:
        names, got = PER_LAYER, res["per_layer"]
    else:
        names, got = END_TO_END, res["end_to_end"]
    metrics = {n: {"value": float(got.get(n) or 0.0), "unit": u} for n, u in names}
    failed_frac = failed / max(1, attempted)
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} ops={res['ops']} "
          f"total_s={time.time() - t_start:.1f} loop_s={res['loop_s']:.1f} "
          f"setup_raw_s={res['setup_raw_s']:.2f} setup_steal={res['setup_steal']:.3f} "
          f"walls_s={res['walls_s']} task_s={res['task_s']} cpu_s={res['cpu_s']} "
          f"steal={res['steal']} "
          f"failed_checks={res['failed_checks']}")
    for n, m in metrics.items():
        print(f"  {n:40s} {m['value']:.6g} {m['unit']}")
    if not a.trace:
        print(f"  {'failed_frac':40s} {failed_frac:.6g} ratio")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
